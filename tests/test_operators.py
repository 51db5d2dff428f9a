"""Frame-operator layer vs scalar-kernel oracles.

Mirrors the reference's own test shapes: compact->uncompact roundtrip
(frame/compact.rs:309-355), fixture frames built from grid disks
(algorithm/tests.rs:6-31), cluster equality to input disks
(cell_clusters.rs:123-150), exact spatial masks (spatial_index/tests.rs).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import h3ron_spark.h3core as h3c
from h3ron_spark import operators as OPS
from h3ron_spark.functions import bits as B
from h3ron_spark.h3core import regions as R

SEED = h3c.latlng_to_cell(37.76, -122.44, 8)
FAR = h3c.latlng_to_cell(45.0, 45.0, 8)


@pytest.fixture(scope="module")
def disk_df(spark):
    """Reference fixture shape (algorithm/tests.rs:6-31): two grid
    disks with a constant value column."""
    rows = [(c, "a") for c in h3c.grid_disk(SEED, 10)] + [
        (c, "b") for c in h3c.grid_disk(FAR, 3)
    ]
    return spark.createDataFrame(rows, "cell long, v string")


def test_compact_dataframe_roundtrip(spark, disk_df):
    compacted = OPS.compact_dataframe(disk_df, "cell")
    rows = compacted.collect()
    # grouped by v; disk of 331 cells compacts to fewer mixed-res cells
    n_in = disk_df.count()
    assert len(rows) < n_in
    for r in rows:
        assert h3c.is_valid_cell(r.cell)
    # uncompact back at res 8 restores the exact cell sets per group
    out = OPS.uncompact_dataframe(compacted, 8, "cell")
    got_a = {r.cell for r in out.filter(F.col("v") == "a").collect()}
    assert got_a == set(h3c.grid_disk(SEED, 10))
    got_b = {r.cell for r in out.filter(F.col("v") == "b").collect()}
    assert got_b == set(h3c.grid_disk(FAR, 3))


def test_compact_matches_scalar_kernel(spark, disk_df):
    only_a = disk_df.filter(F.col("v") == "a")
    got = {r.cell for r in OPS.compact_dataframe(only_a, "cell").collect()}
    want = set(h3c.compact_cells(h3c.grid_disk(SEED, 10)))
    assert got == want


def test_compact_two_phase_matches_single_array(spark):
    """The distributed (partition_res) compact must equal the
    single-array path exactly, including hierarchy-overlapping input
    (a coarse cell coexisting with a partial child set) and a full
    subtree that merges past the partition root."""
    parent4 = h3c.cell_to_parent(SEED, 4)
    cells = set(h3c.grid_disk(SEED, 10))  # res-8 disk
    cells |= set(h3c.cell_to_children(h3c.cell_to_parent(SEED, 6), 7)[:3])
    cells.add(h3c.cell_to_parent(SEED, 3))  # coarser than partition root
    # a complete res-5 subtree under parent4: merges to res 4 in the
    # single-array path, crossing the partition_res=5 boundary
    cells |= {
        g
        for c5 in h3c.cell_to_children(parent4, 5)
        for g in h3c.cell_to_children(c5, 6)
    }
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    want = {r.cell for r in OPS.compact_dataframe(df, "cell").collect()}
    got = {
        r.cell
        for r in OPS.compact_dataframe(df, "cell", partition_res=5).collect()
    }
    assert got == want
    assert set(h3c.compact_cells(sorted(cells))) == want


def test_uncompact_subset(spark):
    parent = h3c.cell_to_parent(SEED, 5)
    df = spark.createDataFrame([(h3c.cell_to_parent(SEED, 6), 1)], "cell long, x int")
    out = OPS.uncompact_dataframe(df, 8, "cell", subset_parent=parent)
    cells = [r.cell for r in out.collect()]
    assert cells and all(h3c.cell_to_parent(c, 5) == parent for c in cells)


def test_filter_valid_and_resolution(spark):
    df = spark.createDataFrame(
        [(SEED,), (0,), (None,), (SEED | (7 << 39),)], "cell long"
    )
    assert OPS.filter_h3_is_valid(df).count() == 1
    res = OPS.with_resolution(df).collect()
    assert {(r.cell, r.res) for r in res} == {
        (SEED, 8),
        (0, None),
        (None, None),
        (SEED | (7 << 39), None),
    }


def test_change_resolution_dataframe(spark):
    df = spark.createDataFrame([(SEED, "x")], "cell long, v string")
    up = OPS.change_resolution_dataframe(df, 6, "cell").collect()
    assert len(up) == 1 and up[0].cell == h3c.cell_to_parent(SEED, 6)
    down = OPS.change_resolution_dataframe(df, 9, "cell").collect()
    assert {r.cell for r in down} == set(h3c.cell_to_children(SEED, 9))
    assert all(r.v == "x" for r in down)


def test_partition_by_resolution(spark, disk_df):
    mixed = OPS.compact_dataframe(disk_df, "cell")
    parts = OPS.partition_by_resolution(mixed, "cell")
    got = {r.h3_res for r in parts.select("h3_res").distinct().collect()}
    assert got == {h3c.get_resolution(r.cell) for r in mixed.collect()}


def test_bounding_rect(spark, disk_df):
    sub = disk_df.filter(F.col("v") == "a")
    r = OPS.bounding_rect(sub, "cell", use="centroid").collect()[0]
    lats, lngs = zip(*[h3c.cell_to_latlng(c) for c in h3c.grid_disk(SEED, 10)])
    assert abs(r.min_lat - min(lats)) < 1e-12
    assert abs(r.max_lng - max(lngs)) < 1e-12
    # boundary mode (reference parity, bounding_rect.rs:11-40): the
    # merged per-cell polygon bbox over all boundary vertices
    rb = OPS.bounding_rect(sub, "cell").collect()[0]
    blats, blngs = [], []
    for c in h3c.grid_disk(SEED, 10):
        for la, ln in h3c.cell_to_boundary(c):
            blats.append(la)
            blngs.append(ln)
    assert abs(rb.min_lat - min(blats)) < 1e-12
    assert abs(rb.max_lng - max(blngs)) < 1e-12
    assert rb.min_lat < r.min_lat and rb.max_lng > r.max_lng


def test_cell_clusters_two_components(spark):
    cells = list(h3c.grid_disk(SEED, 2)) + list(h3c.grid_disk(FAR, 1))
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    out = OPS.cell_clusters(df, "cell")
    rows = out.collect()
    assert len(rows) == len(cells)
    clusters = {}
    for r in rows:
        clusters.setdefault(r.cluster, set()).add(r.cell)
    assert len(clusters) == 2
    sizes = sorted(len(v) for v in clusters.values())
    assert sizes == [7, 19]
    # same membership as the scalar oracle
    oracle = R.find_cell_clusters(cells)
    want = {}
    for c, lab in oracle.items():
        want.setdefault(lab, set()).add(c)
    assert set(map(frozenset, clusters.values())) == set(
        map(frozenset, want.values())
    )


def test_cell_clusters_eq_value(spark):
    cells = list(h3c.grid_disk(SEED, 1))
    vals = [0 if c == SEED else 1 for c in cells]
    df = spark.createDataFrame(list(zip(cells, vals)), "cell long, value int")
    out = OPS.cell_clusters(df, "cell", "value")
    labs = {r.cluster for r in out.collect()}
    assert len(labs) == 2


def test_dissolve_df(spark, disk_df):
    out = OPS.cells_to_polygons_df(
        disk_df, "cell", group_cols=["v"]
    ).collect()
    byv = {r.v: r for r in out}
    assert byv["a"].n_cells == len(h3c.grid_disk(SEED, 10))
    assert byv["a"].geometry_wkt.startswith("MULTIPOLYGON (")
    # smoothing (midpoint pass + Visvalingam simplify) changes the
    # outline and never grows the vertex count
    sm = OPS.cells_to_polygons_df(
        disk_df, "cell", group_cols=["v"], smooth_iterations=1
    ).collect()
    smv = {r.v: r for r in sm}
    for v in byv:
        assert smv[v].geometry_wkt != byv[v].geometry_wkt
        assert smv[v].geometry_wkt.count(",") <= byv[v].geometry_wkt.count(",")


def test_cells_in_rect_exact(spark, disk_df):
    got = {
        r.cell
        for r in OPS.cells_in_rect(
            disk_df, 37.70, -122.50, 37.82, -122.38, 8, "cell"
        ).collect()
    }
    want = set()
    for c in h3c.grid_disk(SEED, 10) + h3c.grid_disk(FAR, 3):
        la, ln = h3c.cell_to_latlng(c)
        if 37.70 <= la <= 37.82 and -122.50 <= ln <= -122.38:
            want.add(c)
    assert got == want and len(want) > 0


def test_cells_in_polygon_exact(spark, disk_df):
    ring = [(37.70, -122.50), (37.70, -122.38), (37.82, -122.38), (37.82, -122.50)]
    got = {
        r.cell for r in OPS.cells_in_polygon(disk_df, ring, 8, "cell").collect()
    }
    want = {
        c
        for c in h3c.grid_disk(SEED, 10)
        if R.point_in_polygon(*h3c.cell_to_latlng(c), ring)
    }
    assert got == want


def test_cells_within_distance(spark, disk_df):
    got = {
        r.cell
        for r in OPS.cells_within_distance(
            disk_df, 37.76, -122.44, 3.0, 8, "cell"
        ).collect()
    }
    want = {
        c
        for c in h3c.grid_disk(SEED, 10) + h3c.grid_disk(FAR, 3)
        if h3c.great_circle_distance_km(37.76, -122.44, *h3c.cell_to_latlng(c))
        <= 3.0
    }
    assert got == want and len(want) > 0


def test_continuous_cells_to_edges(spark):
    target = h3c.grid_disk(SEED, 4)[-1]
    path = h3c.grid_path_cells(SEED, target)
    df = spark.createDataFrame(list(enumerate(path)), "pos int, cell long")
    out = OPS.continuous_cells_to_edges(df, "cell", "pos").orderBy("pos").collect()
    assert len(out) == len(path) - 1
    for r in out:
        assert r.edge == h3c.cells_to_directed_edge(r.cell, r.next_cell)


def test_neighbors_within_distance(spark):
    cells = h3c.grid_disk(SEED, 1)
    df = spark.createDataFrame([(c, float(i)) for i, c in enumerate(cells)],
                               "cell long, value double")
    out = OPS.neighbors_within_distance(df, 1, default=-1.0)
    rows = out.filter(F.col("cell") == SEED).collect()
    assert len(rows) == 7  # disk(1) incl. center
    vals = {r.neighbor: r.neighbor_value for r in rows}
    assert all(v >= 0 for v in vals.values())  # all neighbors have values
    # a cell on the rim sees default-filled outside neighbors
    rim = cells[-1]
    rim_rows = out.filter(F.col("cell") == rim).collect()
    assert any(r.neighbor_value == -1.0 for r in rim_rows)


def test_keyed_two_phase_compact_matches_plain(spark):
    """D4 scale path: (keys, subtree-root) two-phase compaction must
    produce exactly the plain per-group result — including groups that
    collapse past the partition root and mixed-res inputs."""
    import h3ron_spark.h3core as h3c
    from h3ron_spark.operators.compact import compact_dataframe
    from h3ron_spark.util import local_df

    rows = []
    # value 'a': a full res-5 disk uncompacted to res 7 (collapses all
    # the way back past the res-6 partition boundary)
    for c in h3c.uncompact_cells(
        h3c.grid_disk(h3c.latlng_to_cell(10.0, 20.0, 5), 2), 7
    ):
        rows.append(("a", c))
    # value 'b': partial children (no full collapse) + coarse cells
    kids = h3c.cell_to_children(h3c.latlng_to_cell(45.0, 45.0, 5), 7)
    rows.extend(("b", c) for c in kids[:-3])
    rows.append(("b", h3c.latlng_to_cell(-20.0, 100.0, 4)))
    df = local_df(spark, rows, "value string, cell long")

    plain = compact_dataframe(df, "cell")
    two = compact_dataframe(df, "cell", partition_res=6)
    a = sorted((r.value, r.cell) for r in plain.collect())
    b = sorted((r.value, r.cell) for r in two.collect())
    assert a == b and len(a) > 0

    # array (non-exploded) variant agrees too
    pa_ = {
        r.value: r.cell
        for r in compact_dataframe(df, "cell", exploded=False).collect()
    }
    tw = {
        r.value: r.cell
        for r in compact_dataframe(
            df, "cell", exploded=False, partition_res=6
        ).collect()
    }
    assert pa_ == tw


def test_purge_children(spark):
    """CompactedCellVec.purge_children (compactedcellvec.rs:244-276):
    rows with any present ancestor drop; parents and unrelated cells
    survive; duplicates of survivors are preserved."""
    parent = h3c.latlng_to_cell(37.0, -122.0, 4)
    child = h3c.cell_to_children(parent, 6)[3]
    unrelated = h3c.latlng_to_cell(-20.0, 60.0, 6)
    df = spark.createDataFrame(
        [(parent,), (child,), (child,), (unrelated,)], "cell long"
    )
    got = sorted(r.cell for r in OPS.purge_children(df, "cell").collect())
    assert got == sorted([parent, unrelated])
    # deep ancestor (res-2) also swallows the res-6 child
    deep = h3c.cell_to_parent(parent, 2)
    df2 = spark.createDataFrame([(deep,), (child,)], "cell long")
    got2 = {r.cell for r in OPS.purge_children(df2, "cell").collect()}
    assert got2 == {deep}


def test_h3_ancestors_column(spark):
    from h3ron_spark.functions import bits as B

    c = h3c.latlng_to_cell(37.0, -122.0, 3)
    rows = spark.createDataFrame(
        [(c,), (h3c.latlng_to_cell(37.0, -122.0, 0),), (7,), (None,)],
        "cell long",
    ).select(B.h3_ancestors("cell").alias("a")).collect()
    assert rows[0].a == [h3c.cell_to_parent(c, r) for r in (2, 1, 0)]
    assert rows[1].a == []   # res 0: no ancestors
    assert rows[2].a is None  # invalid -> NULL
    assert rows[3].a is None  # NULL -> NULL (ADVICE r3)


def test_range_join_matches_naive_and_handles_boundaries(spark):
    """Bucketized range join == naive theta join, including spans that
    straddle bucket boundaries, end exactly ON a boundary (half-open),
    and multi-bucket spans longer than bucket_width."""
    from pyspark.sql import functions as F

    from h3ron_spark.operators.rangejoin import range_join
    from h3ron_spark.util import local_df

    points = local_df(
        spark, [(i, i * 37 % 250) for i in range(100)], "pid long, t long"
    )
    spans = local_df(
        spark,
        [
            (0, 10, 20),     # inside one bucket
            (1, 95, 105),    # straddles the 100 boundary
            (2, 150, 200),   # ends exactly on a boundary (exclusive)
            (3, 40, 260),    # spans 3 buckets
            (4, 240, 241),   # single-point span
        ],
        "sid long, lo long, hi long",
    )
    got = sorted(
        (r.sid, r.pid)
        for r in range_join(
            points, spans, "t", "lo", "hi", bucket_width=100
        ).collect()
    )
    naive = sorted(
        (s, p)
        for (p, t) in [(r.pid, r.t) for r in points.collect()]
        for (s, lo, hi) in [(r.sid, r.lo, r.hi) for r in spans.collect()]
        if lo <= t < hi
    )
    assert got == naive
    assert len(got) > 0


# ------------------------------------------------------------------
# Skew operators (operators/skew.py)
# ------------------------------------------------------------------


def _skewed_df(spark, n=3000):
    """80% of rows on one hot key, values with duplicates and nulls."""
    from pyspark.sql import functions as F2

    return spark.range(n).select(
        F2.col("id").alias("rid"),
        F2.when(F2.col("id") % 5 != 0, F2.lit("hot"))
        .otherwise(F2.concat(F2.lit("k"), F2.col("id") % 7))
        .alias("k"),
        (F2.col("id") % 97).alias("v"),
        (F2.col("id") % 13).cast("double").alias("score"),
    )


def test_salted_count_distinct_equals_exact(spark):
    from pyspark.sql import functions as F2

    from h3ron_spark.operators.skew import salted_count_distinct

    df = _skewed_df(spark)
    got = {
        (r.k): r.n_distinct
        for r in salted_count_distinct(df, ["k"], "v", n_salts=7).collect()
    }
    want = {
        r.k: r.n
        for r in df.groupBy("k").agg(F2.count_distinct("v").alias("n")).collect()
    }
    assert got == want


def test_salted_collect_set_disjoint_merge(spark):
    from pyspark.sql import functions as F2

    from h3ron_spark.operators.skew import salted_collect_set

    df = _skewed_df(spark, 500)
    got = {
        r.k: list(r.values)
        for r in salted_collect_set(df, ["k"], "v", n_salts=5).collect()
    }
    want = {
        r.k: sorted(r.s)
        for r in df.groupBy("k").agg(F2.collect_set("v").alias("s")).collect()
    }
    assert got == want  # sorted arrays equal => disjointness held


def test_salted_topk_exact_including_hot_key_ties(spark):
    from pyspark.sql import functions as F2
    from pyspark.sql import Window as W2

    from h3ron_spark.operators.skew import salted_topk

    df = _skewed_df(spark)
    got = (
        salted_topk(
            df,
            ["k"],
            [F2.col("score").desc(), F2.col("rid").asc()],
            k=4,
            salt_from="rid",
            n_salts=6,
        )
        .select("k", "rnk", "rid")
        .collect()
    )
    w = W2.partitionBy("k").orderBy(F2.col("score").desc(), F2.col("rid").asc())
    want = (
        df.withColumn("rnk", F2.row_number().over(w))
        .filter(F2.col("rnk") <= 4)
        .select("k", "rnk", "rid")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_salted_join_equals_plain_join_and_drops_nulls(spark):
    from pyspark.sql import functions as F2

    from h3ron_spark.operators.skew import salted_join

    fact = _skewed_df(spark).withColumn(
        "k", F2.when(F2.col("rid") % 11 == 0, None).otherwise(F2.col("k"))
    )
    dim = spark.createDataFrame(
        [("hot", 100)] + [(f"k{i}", i) for i in range(7)], ["k", "attr"]
    )
    got = salted_join(fact, dim, "k", n_salts=4, salt_from="rid")
    want = fact.join(dim, "k", "inner")
    assert got.count() == want.count()
    g = got.groupBy("k").agg(F2.sum("attr").alias("s")).collect()
    w = want.groupBy("k").agg(F2.sum("attr").alias("s")).collect()
    assert sorted(map(tuple, g)) == sorted(map(tuple, w))
    assert got.filter(F2.col("k").isNull()).count() == 0


def test_salted_topk_two_stage_plan(spark):
    """Plan pin: stage 1 is a per-(key, salt) WindowGroupLimit — the
    hot key's ranking work is split across salts BEFORE the per-key
    window runs."""
    from pyspark.sql import functions as F2

    from h3ron_spark.operators.skew import salted_topk

    df = _skewed_df(spark)
    plan = (
        salted_topk(
            df, ["k"], [F2.col("score").desc(), F2.col("rid").asc()],
            k=3, salt_from="rid", n_salts=6,
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("WindowGroupLimit") >= 2  # both stages pre-shrink


def test_zorder_key_matches_python_reference(spark):
    """Interleave correctness: zorder_key equals the textbook Morton
    interleave for a sweep of (x, y) pairs, and is monotone under the
    2^bits grid traversal."""
    from pyspark.sql import functions as F2

    from h3ron_spark.operators.layout import zorder_key

    def morton(x, y, bits=8):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    pairs = [(x, y) for x in (0, 1, 2, 31, 128, 255) for y in (0, 3, 77, 255)]
    df = spark.createDataFrame(pairs, ["x", "y"])
    rows = df.select(
        "x", "y", zorder_key(["x", "y"], bits=8).alias("z")
    ).collect()
    for r in rows:
        assert r.z == morton(r.x, r.y), (r.x, r.y)


def test_zorder_locality_beats_single_column_sort(spark):
    """The property the layout exists for: rows inside a small 2-D
    box occupy a far narrower z-rank band than their rank band under
    a single-column sort — fewer row groups touched for conjunctive
    range predicates."""
    from pyspark.sql import functions as F2

    from h3ron_spark.operators.layout import zorder_key

    df = spark.range(256 * 64).select(
        (F2.col("id") % 256).alias("x"), (F2.col("id") / 256).cast("long").alias("y")
    )
    z = df.select("x", "y", zorder_key(["x", "y"], bits=8).alias("z"))
    box = z.filter((F2.col("x") < 16) & (F2.col("y") < 16))
    n_box = box.count()
    # z-span of the box vs total z-span: a 16x16 box at the origin is
    # exactly the first 256 z-values — perfectly contiguous
    stats = box.agg(
        F2.min("z").alias("lo"), F2.max("z").alias("hi")
    ).collect()[0]
    assert (stats.hi - stats.lo + 1) == n_box  # contiguous band
    # under an x-sort the same rows spread across every x<16 stripe of
    # all 64 y rows: rank span is ~16*64 x-groups wide, not contiguous


# ------------------------------------------------------------------
# Table maintenance (operators/maintenance.py)
# ------------------------------------------------------------------


def test_file_stats_and_unpartitioned_compaction(spark, tmp_path):
    """64 tiny files compact to the byte-sized target count with
    identical content."""
    from pyspark.sql import functions as F2

    from h3ron_spark.operators.maintenance import (
        compact_small_files,
        table_file_stats,
    )

    src = str(tmp_path / "t")
    spark.range(6400).withColumn("v", F2.col("id") * 3).repartition(
        64
    ).write.parquet(src)
    stats = table_file_stats(spark, src)
    before = stats.collect()
    assert len(before) == 64
    assert all(r.partition == "" for r in before)

    dest = str(tmp_path / "t_compact")
    summary = compact_small_files(spark, src, dest, target_mb=128)
    row = summary.collect()[0]
    assert row.files_before == 64 and row.files_target == 1
    after = table_file_stats(spark, dest).collect()
    assert len(after) == 1
    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(dest).orderBy("id").collect()
    assert a == b


def test_partitioned_compaction_preserves_layout(spark, tmp_path):
    """Hive-partitioned compaction keeps the partition directories
    (pruning intact), collapses each partition's shards, and the
    readback matches row-for-row."""
    from pyspark.sql import functions as F2

    from h3ron_spark.operators.maintenance import (
        compact_small_files,
        table_file_stats,
    )

    src = str(tmp_path / "p")
    df = spark.range(3000).select(
        F2.col("id"),
        (F2.col("id") % 3).alias("bucket"),
        (F2.col("id") * 7 % 1000).alias("v"),
    )
    df.repartition(20).write.partitionBy("bucket").parquet(src)
    stats = table_file_stats(spark, src)
    assert stats.count() >= 30  # ~20 shards x 3 partitions
    parts = {r.partition for r in stats.collect()}
    assert parts == {"bucket=0", "bucket=1", "bucket=2"}

    dest = str(tmp_path / "p_compact")
    summary = compact_small_files(
        spark, src, dest, target_mb=128, partition_cols=["bucket"]
    )
    assert {r.partition: r.files_target for r in summary.collect()} == {
        "bucket=0": 1, "bucket=1": 1, "bucket=2": 1,
    }
    after = table_file_stats(spark, dest)
    assert after.count() == 3  # one file per partition dir
    assert {r.partition for r in after.collect()} == parts
    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(dest).orderBy("id").collect()
    assert a == b
    # partition pruning still works on the compacted table
    plan = (
        spark.read.parquet(dest)
        .filter(F2.col("bucket") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_bench_queries_all_registered():
    import bench

    from h3ron_spark import queries as Q

    reg = Q.queries()
    assert all(q in reg for q in bench.BENCH_QUERIES)
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)


def test_drift_report_identical_batches_zero_delta(spark):
    """Drift of a batch against itself is all-zero deltas — the
    null-hypothesis sanity every monitoring metric must satisfy."""
    from pyspark.sql import functions as F2

    from h3ron_spark.pipeline.drift import drift_report

    df = spark.range(400).select(
        F2.col("id"),
        (F2.col("id") * 37 % 1000).alias("num"),
        F2.concat(F2.lit("v"), F2.col("id") % 97).alias("s"),
    )
    rep = drift_report(df, df, numeric_cols=["num"], string_cols=["s"])
    rows = rep.collect()
    assert len(rows) >= 6
    assert all(r.delta == 0 for r in rows)
    assert all(r.batch_a == r.batch_b for r in rows)


def test_scd2_intervals_fixture(spark):
    """operators/history.py scd2_intervals (the implementation
    rel_scd2_history registers) on a hand-built stream: contiguous
    half-open validity, far-future sentinel + is_current on the open
    row, version numbering restarts per user."""
    from h3ron_spark.operators.history import scd2_intervals

    rows = [
        # user, event_id, event_type, sec
        (1, 1, "a", 100), (1, 2, "a", 110), (1, 3, "b", 120),
        (1, 4, "a", 130),
        (2, 5, "x", 200),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, sec long"
    )
    out = (
        scd2_intervals(
            df,
            key_col="user_id",
            attr_col="event_type",
            order_col="event_id",
            time_col="sec",
        )
        .orderBy("user_id", "version")
        .collect()
    )
    got = [tuple(r) for r in out]
    assert got == [
        (1, 1, "a", 100, 120, 2, 0),
        (1, 2, "b", 120, 130, 1, 0),
        (1, 3, "a", 130, 253402300799, 1, 1),
        (2, 1, "x", 200, 253402300799, 1, 1),
    ]


def test_hex_smooth_conserves_mass_and_matches_scalar(spark):
    """operators/convolve.py hex_smooth: (a) normalized smoothing
    conserves total mass exactly on a hexagon AND on a pentagon-
    containing disk (deficient neighborhoods); (b) per-cell outputs
    equal an independent scalar-python convolution over
    h3core.grid_disk_distances; (c) k=0 is the identity."""
    import h3ron_spark.h3core as h3c
    from h3ron_spark.operators.convolve import hex_smooth

    hexa = h3c.latlng_to_cell(37.0, -122.0, 4)
    penta = next(
        c
        for c in h3c.res0_cells()
        if h3c.is_pentagon(c)
    )
    rows = [(hexa, 10.0), (penta, 7.0)]
    df = spark.createDataFrame(rows, "cell long, value double")

    got = {
        r["cell"]: r["smoothed"]
        for r in hex_smooth(df, k=2).collect()
    }
    # independent reference: scalar disks + same kernel
    w = [1.0, 0.5, 1.0 / 3.0]
    expect = {}
    for cell, v in rows:
        disk = h3c.grid_disk_distances(cell, 2)  # [(cell, d), ...]
        z = sum(w[d] for _, d in disk)
        for nb, d in disk:
            expect[nb] = expect.get(nb, 0.0) + v * w[d] / z
    assert set(got) == set(expect)
    for c in got:
        assert abs(got[c] - expect[c]) < 1e-12
    assert abs(sum(got.values()) - 17.0) < 1e-9  # mass conserved

    ident = hex_smooth(df, k=0).collect()
    assert {(r["cell"], r["smoothed"]) for r in ident} == {
        (hexa, 10.0), (penta, 7.0)
    }

    import pytest as _pytest

    with _pytest.raises(ValueError):
        hex_smooth(df, k=1, weights=[1.0])
