"""Golden-vector queries: pinned fixtures whose expected outputs are
the literal ground-truth values committed in the reference's own unit
tests (harvested file:line cited per query). Each query exercises the
real Spark operators over a tiny deterministic input and carries an
exact DuckDB ``VALUES``-literal oracle, converting the previously
oracle-less H3 semantic surface (edges, directions, localij, dissolve,
smoothen, isochrone, clusters, grid traversal) into hash-checked
signal.

The queries ignore ``sf_dir`` — the fixture IS the pinned input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import h3ron_spark.h3core as h3c
from h3ron_spark.functions import bits as B
from h3ron_spark.functions import geo as G
from h3ron_spark.queries import register
from h3ron_spark.util import local_df, session_stage

# The reference's canonical test cell (San Francisco, res 9) — used by
# nearly every h3ron unit test (h3ron/src/cell.rs:485-707).
_CELL = 0x89283080DDBFFFF
# Its 4th directed edge (h3ron/src/directed_edge.rs:351-400).
_EDGE = 0x149283080DDBFFFF
# testH3Line.c pair: line not computable across multiple icosa faces
# (h3ron/src/lib.rs:152-160).
_LINE_A = 0x85285AA7FFFFFFF
_LINE_B = 0x851D9B1BFFFFFFF


def _one_row(spark: SparkSession) -> DataFrame:
    return local_df(spark, [(1,)], "one int")


# ---------------------------------------------------------------------
# S19/S21/S28: directed edges of the canonical cell
# ---------------------------------------------------------------------

_EDGES_ORACLE = """
  SELECT * FROM (VALUES
    ('119283080ddbffff', CAST(9 AS INT)),
    ('129283080ddbffff', CAST(9 AS INT)),
    ('139283080ddbffff', CAST(9 AS INT)),
    ('149283080ddbffff', CAST(9 AS INT)),
    ('159283080ddbffff', CAST(9 AS INT)),
    ('169283080ddbffff', CAST(9 AS INT))
  ) AS t(edge_hex, res)
  ORDER BY edge_hex
"""


@register("golden_directed_edges", oracle=_EDGES_ORACLE)
def golden_directed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19+S28: the six directed edges of 0x89283080ddbffff, formatted
    as hex strings, with their resolutions — the exact strings committed
    in h3ron/src/cell.rs:634-654 (can_retrieve_edges)."""
    df = local_df(spark, [(_CELL,)], "cell long")
    return (
        df.select(F.explode(G.h3_cell_to_directed_edges("cell")).alias("edge"))
        .select(
            B.h3_to_string("edge").alias("edge_hex"),
            B.h3_get_resolution("edge").alias("res"),
        )
        .orderBy("edge_hex")
    )


# ---------------------------------------------------------------------
# S26: direction digits over resolutions
# ---------------------------------------------------------------------

# h3ron/src/direction.rs:227-240: cell 0x861ea54f7ffffff -> J,I,IK,J,JK,IJ
# h3ron/src/direction.rs:246-268: edge 0x149283080ddbffff ->
#   Center,IJ,Center,I,Center,K,IK,IJ,IJ
# h3ron/src/direction.rs:164-182: cell 0x8518607bfffffff ->
#   direction()=IJ(6), direction_to_parent()=JK(3),
#   direction_to_parent_resolution(1)=K(1)
_DIR_ORACLE = """
  SELECT * FROM (VALUES
    ('cell6', CAST(1 AS INT), CAST(2 AS INT)),
    ('cell6', CAST(2 AS INT), CAST(4 AS INT)),
    ('cell6', CAST(3 AS INT), CAST(5 AS INT)),
    ('cell6', CAST(4 AS INT), CAST(2 AS INT)),
    ('cell6', CAST(5 AS INT), CAST(3 AS INT)),
    ('cell6', CAST(6 AS INT), CAST(6 AS INT)),
    ('edge9', CAST(1 AS INT), CAST(0 AS INT)),
    ('edge9', CAST(2 AS INT), CAST(6 AS INT)),
    ('edge9', CAST(3 AS INT), CAST(0 AS INT)),
    ('edge9', CAST(4 AS INT), CAST(4 AS INT)),
    ('edge9', CAST(5 AS INT), CAST(0 AS INT)),
    ('edge9', CAST(6 AS INT), CAST(1 AS INT)),
    ('edge9', CAST(7 AS INT), CAST(5 AS INT)),
    ('edge9', CAST(8 AS INT), CAST(6 AS INT)),
    ('edge9', CAST(9 AS INT), CAST(6 AS INT)),
    ('cell5_dir', CAST(5 AS INT), CAST(6 AS INT)),
    ('cell5_parent', CAST(4 AS INT), CAST(3 AS INT)),
    ('cell5_res1', CAST(1 AS INT), CAST(1 AS INT))
  ) AS t(owner, pos, digit)
  ORDER BY owner, pos
"""


@register("golden_direction_digits", oracle=_DIR_ORACLE)
def golden_direction_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S26: iter_directions_over_resolutions on the two pinned indexes
    (h3ron/src/direction.rs:227-268) + the three single-direction
    lookups on 0x8518607bfffffff (direction.rs:164-182), via the
    pure-SQL digit accessors."""
    seq = local_df(
        spark,
        [("cell6", 0x861EA54F7FFFFFF, 6), ("edge9", _EDGE, 9)],
        "owner string, idx long, res int",
    )
    by_res = (
        seq.select(
            "owner",
            F.explode(F.sequence(F.lit(1), F.col("res"))).alias("pos"),
            "idx",
        )
        .select("owner", "pos", B.h3_get_index_digit("idx", F.col("pos")).alias("digit"))
    )
    c5 = local_df(
        spark, [(0x8518607BFFFFFFF,)], "cell long"
    )
    singles = c5.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("cell5_dir").alias("owner"),
                    F.lit(5).alias("pos"),
                    B.h3_get_index_digit("cell", F.lit(5)).alias("digit"),
                ),
                F.struct(
                    F.lit("cell5_parent").alias("owner"),
                    F.lit(4).alias("pos"),
                    B.h3_direction_to_parent("cell").alias("digit"),
                ),
                F.struct(
                    F.lit("cell5_res1").alias("owner"),
                    F.lit(1).alias("pos"),
                    B.h3_direction_to_parent("cell", 1).alias("digit"),
                ),
            )
        ).alias("s")
    ).select("s.owner", "s.pos", "s.digit")
    return by_res.unionByName(singles).orderBy("owner", "pos")


# ---------------------------------------------------------------------
# S10-S15 + S28 + edge ops: the cell.rs checks, long format
# ---------------------------------------------------------------------

_CELL_API_ORACLE = """
  SELECT * FROM (VALUES
    ('string_roundtrip', CAST(1 AS BIGINT)),
    ('hex_is_89283080ddbffff', CAST(1 AS BIGINT)),
    ('is_valid', CAST(1 AS BIGINT)),
    ('zero_invalid', CAST(0 AS BIGINT)),
    ('res', CAST(9 AS BIGINT)),
    ('ring1_count', CAST(6 AS BIGINT)),
    ('ring1_all_valid', CAST(1 AS BIGINT)),
    ('ring0_is_self', CAST(1 AS BIGINT)),
    ('disk_k2_count', CAST(12 AS BIGINT)),
    ('dist_self', CAST(0 AS BIGINT)),
    ('dist_ring1', CAST(1 AS BIGINT)),
    ('dist_ring3', CAST(3 AS BIGINT)),
    ('is_neighbor_ring1', CAST(1 AS BIGINT)),
    ('neighbor_res_mismatch_null', CAST(1 AS BIGINT)),
    ('cross_face_distance_null', CAST(1 AS BIGINT)),
    ('cross_face_path_connected', CAST(1 AS BIGINT)),
    ('edge_valid', CAST(1 AS BIGINT)),
    ('cell_as_edge_invalid', CAST(0 AS BIGINT)),
    ('edge_reverse_swaps', CAST(1 AS BIGINT)),
    ('edge_boundary_two_points', CAST(1 AS BIGINT)),
    ('edge_len_lt_centroid_dist', CAST(1 AS BIGINT)),
    ('centroid_dist_lt_2x_len', CAST(1 AS BIGINT))
  ) AS t(what, val)
  ORDER BY what
"""


@register("golden_cell_api", oracle=_CELL_API_ORACLE)
def golden_cell_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The h3ron cell/edge unit-test battery on the canonical SF cell,
    long format (check, value): string roundtrip (cell.rs:485-502),
    validity incl. 0 (cell.rs:505-509), ring counts (cell.rs:519-533),
    disk-distance window (cell.rs:536-547), grid distances
    (cell.rs:620-630), neighbor checks incl. the res-mismatch error
    (cell.rs:608-617), the testH3Line.c cross-face pair
    (h3ron/src/lib.rs:152-160: distance errors -> NULL; our documented
    path superset stays connected), and the directed-edge battery
    (directed_edge.rs:348-400)."""
    df = local_df(
        spark,
        [(_CELL, _EDGE, 0x8A2A1072B59FFFF, _LINE_A, _LINE_B)],
        "cell long, edge long, far long, la long, lb long",
    )
    ring1 = G.h3_grid_ring("cell", F.lit(1))
    ring3 = G.h3_grid_ring("cell", F.lit(3))
    disk22 = G.h3_grid_disk_distances_range("cell", F.lit(2), F.lit(2))
    rev = G.h3_edge_reverse("edge")
    ex = df.select(
        B.h3_to_string("cell").alias("hex"),
        (B.h3_from_string(B.h3_to_string("cell")) == F.col("cell")).alias(
            "string_roundtrip"
        ),
        B.h3_is_valid_cell("cell").alias("is_valid"),
        B.h3_is_valid_cell(F.lit(0).cast("long")).alias("zero_valid"),
        B.h3_get_resolution("cell").cast("long").alias("res"),
        F.size(ring1).cast("long").alias("ring1_count"),
        F.forall(
            G.h3_grid_ring("cell", F.lit(1)), lambda c: B.h3_is_valid_cell(c)
        ).alias("ring1_all_valid"),
        (G.h3_grid_ring("cell", F.lit(0)) == F.array(F.col("cell"))).alias(
            "ring0_is_self"
        ),
        F.size(disk22).cast("long").alias("disk_k2_count"),
        G.h3_grid_distance("cell", "cell").cast("long").alias("dist_self"),
        G.h3_grid_distance("cell", F.element_at(ring1, 1))
        .cast("long")
        .alias("dist_ring1"),
        G.h3_grid_distance("cell", F.element_at(ring3, 1))
        .cast("long")
        .alias("dist_ring3"),
        G.h3_are_neighbor_cells("cell", F.element_at(ring1, 1)).alias(
            "is_neighbor_ring1"
        ),
        G.h3_are_neighbor_cells("cell", "far").isNull().alias(
            "neighbor_res_mismatch_null"
        ),
        G.h3_grid_distance("la", "lb").isNull().alias(
            "cross_face_distance_null"
        ),
        B.h3_is_valid_directed_edge("edge").alias("edge_valid"),
        B.h3_is_valid_directed_edge("cell").alias("cell_as_edge_valid"),
        (
            (B.h3_edge_origin(rev) == G.h3_edge_destination("edge"))
            & (G.h3_edge_destination(rev) == B.h3_edge_origin("edge"))
        ).alias("edge_reverse_swaps"),
        (
            F.size(F.split(G.h3_edge_boundary_wkt("edge"), ",")) == 2
        ).alias("edge_boundary_two_points"),
        G.h3_edge_length_m("edge").alias("edge_len_m"),
        G.h3_cell_centroid_distance_m(
            B.h3_edge_origin("edge"), G.h3_edge_destination("edge")
        ).alias("centroid_dist_m"),
    )
    checks = ex.select(
        F.explode(
            F.map_from_arrays(
                F.array(
                    F.lit("string_roundtrip"),
                    F.lit("hex_is_89283080ddbffff"),
                    F.lit("is_valid"),
                    F.lit("zero_invalid"),
                    F.lit("res"),
                    F.lit("ring1_count"),
                    F.lit("ring1_all_valid"),
                    F.lit("ring0_is_self"),
                    F.lit("disk_k2_count"),
                    F.lit("dist_self"),
                    F.lit("dist_ring1"),
                    F.lit("dist_ring3"),
                    F.lit("is_neighbor_ring1"),
                    F.lit("neighbor_res_mismatch_null"),
                    F.lit("cross_face_distance_null"),
                    F.lit("edge_valid"),
                    F.lit("cell_as_edge_invalid"),
                    F.lit("edge_reverse_swaps"),
                    F.lit("edge_boundary_two_points"),
                    F.lit("edge_len_lt_centroid_dist"),
                    F.lit("centroid_dist_lt_2x_len"),
                ),
                F.array(
                    F.col("string_roundtrip").cast("long"),
                    (F.col("hex") == "89283080ddbffff").cast("long"),
                    F.col("is_valid").cast("long"),
                    F.col("zero_valid").cast("long"),
                    F.col("res"),
                    F.col("ring1_count"),
                    F.col("ring1_all_valid").cast("long"),
                    F.col("ring0_is_self").cast("long"),
                    F.col("disk_k2_count"),
                    F.col("dist_self"),
                    F.col("dist_ring1"),
                    F.col("dist_ring3"),
                    F.col("is_neighbor_ring1").cast("long"),
                    F.col("neighbor_res_mismatch_null").cast("long"),
                    F.col("cross_face_distance_null").cast("long"),
                    F.col("edge_valid").cast("long"),
                    F.col("cell_as_edge_valid").cast("long"),
                    F.col("edge_reverse_swaps").cast("long"),
                    F.col("edge_boundary_two_points").cast("long"),
                    (F.col("edge_len_m") < F.col("centroid_dist_m")).cast(
                        "long"
                    ),
                    (F.col("centroid_dist_m") < 2 * F.col("edge_len_m")).cast(
                        "long"
                    ),
                ),
            )
        ).alias("what", "val")
    )
    # cross-face path connectivity: posexplode + lead window so the
    # neighbor UDF sees plain columns (Spark bars Python UDFs inside
    # higher-order-function lambdas)
    from pyspark.sql import Window

    steps = (
        df.select(
            "la",
            "lb",
            F.posexplode(G.h3_grid_path("la", "lb")).alias("pos", "pc"),
        )
        
        .select(
            "la",
            "lb",
            "pos",
            "pc",
            F.lead("pc").over(Window.orderBy("pos")).alias("nxt"),
        )
    )
    path_check = steps.agg(
        F.lit("cross_face_path_connected").alias("what"),
        (
            (F.count(F.lit(1)) > 0)
            & (
                F.sum(
                    (
                        ~F.coalesce(
                            G.h3_are_neighbor_cells("pc", "nxt"), F.lit(True)
                        )
                    ).cast("long")
                )
                == 0
            )
            & (F.max(F.when(F.col("pos") == 0, F.col("pc") == F.col("la"))))
            & (F.max(F.when(F.col("nxt").isNull(), F.col("pc") == F.col("lb"))))
        )
        .cast("long")
        .alias("val"),
    )
    return checks.unionByName(path_check).orderBy("what")


# ---------------------------------------------------------------------
# S25: local IJ roundtrip over the disk-1 neighborhood
# ---------------------------------------------------------------------

_LOCALIJ_ORACLE = """
  SELECT * FROM (VALUES (
    CAST(7 AS BIGINT), CAST(7 AS BIGINT),
    CAST(1 AS INT), CAST(1 AS INT)
  )) AS t(n_cells, n_roundtrip_ok, max_abs_di, max_abs_dj)
"""


@register("golden_localij", oracle=_LOCALIJ_ORACLE)
def golden_localij(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S25 (h3ron/src/localij.rs:106-128 test_local_ij): every disk-1
    cell of the canonical origin roundtrips through (to_localij,
    from_localij) and sits within one IJ unit of the origin."""
    df = local_df(spark, [(_CELL,)], "origin long")
    cells = df.select(
        "origin", F.explode(G.h3_grid_disk("origin", F.lit(1))).alias("cell")
    )
    ij = cells.select(
        "origin",
        "cell",
        G.h3_cell_to_local_ij("origin", "cell").alias("ij"),
        G.h3_cell_to_local_ij("origin", "origin").alias("oij"),
    )
    back = ij.select(
        "origin",
        "cell",
        (F.col("ij.i") - F.col("oij.i")).alias("di"),
        (F.col("ij.j") - F.col("oij.j")).alias("dj"),
        G.h3_local_ij_to_cell("origin", F.col("ij.i"), F.col("ij.j")).alias(
            "back"
        ),
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum((F.col("back") == F.col("cell")).cast("long")).alias(
            "n_roundtrip_ok"
        ),
        F.max(F.abs("di")).alias("max_abs_di"),
        F.max(F.abs("dj")).alias("max_abs_dj"),
    )


# ---------------------------------------------------------------------
# G5: donut dissolve (to_linked_polygons)
# ---------------------------------------------------------------------

_DONUT_ORACLE = """
  SELECT * FROM (VALUES (
    CAST(1 AS BIGINT), CAST(19 AS BIGINT),
    CAST(1 AS BIGINT), CAST(7 AS BIGINT)
  )) AS t(n_polygons, exterior_coords, n_interiors, interior_coords)
"""


@register("golden_dissolve_donut", oracle=_DONUT_ORACLE)
def golden_dissolve_donut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 (h3ron/src/to_geo.rs:252-263 donut_linked_polygon): the ring-1
    donut at (lat 12.3, lng 23.3) res 6 dissolves into exactly one
    polygon with a 19-coordinate exterior and one 7-coordinate hole
    (closed-ring convention, matching geo-types' LineString counts)."""
    from h3ron_spark.operators.dissolve import dissolve_ring_stats_df

    df = local_df(
        spark,
        [(12.3, 23.3)],
        "lat double, lng double",
    )
    cells = df.select(
        F.explode(
            G.h3_grid_ring(
                G.h3_latlng_to_cell("lat", "lng", F.lit(6)), F.lit(1)
            )
        ).alias("cell")
    )
    return dissolve_ring_stats_df(cells, "cell", smooth_iterations=0).select(
        "n_polygons", "exterior_coords", "n_interiors", "interior_coords"
    )


# ---------------------------------------------------------------------
# G6: smoothen on the k=4 donut
# ---------------------------------------------------------------------

_SMOOTH_ORACLE = """
  SELECT * FROM (VALUES (
    CAST(1 AS BIGINT), CAST(1 AS BIGINT),
    CAST(1 AS BIGINT), CAST(1 AS BIGINT)
  )) AS t(n_polygons, n_interiors, exterior_lt_10, interior_lt_10)
"""


@register("golden_smoothen_donut", oracle=_SMOOTH_ORACLE)
def golden_smoothen_donut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 (h3ron/src/algorithm/smoothen.rs:85-105
    smooth_donut_linked_polygon): the ring-4 donut at the same pinned
    coordinate smoothens to one polygon whose exterior and single hole
    both drop below 10 coordinates."""
    from h3ron_spark.operators.dissolve import dissolve_ring_stats_df

    df = local_df(spark, [(12.3, 23.3)], "lat double, lng double")
    cells = df.select(
        F.explode(
            G.h3_grid_ring(
                G.h3_latlng_to_cell("lat", "lng", F.lit(6)), F.lit(4)
            )
        ).alias("cell")
    )
    stats = dissolve_ring_stats_df(cells, "cell", smooth_iterations=1)
    return stats.select(
        "n_polygons",
        "n_interiors",
        (F.col("exterior_coords") < 10).cast("long").alias("exterior_lt_10"),
        (F.col("interior_coords") < 10).cast("long").alias("interior_lt_10"),
    )


# ---------------------------------------------------------------------
# P6/P9: isochrone weight histograms on the reference's line graph
# ---------------------------------------------------------------------

_ISO_ORACLE = """
  SELECT * FROM (VALUES
    ('single', CAST(0 AS INT), CAST(1 AS BIGINT)),
    ('single', CAST(10 AS INT), CAST(1 AS BIGINT)),
    ('single', CAST(20 AS INT), CAST(1 AS BIGINT)),
    ('single', CAST(30 AS INT), CAST(1 AS BIGINT)),
    ('many', CAST(0 AS INT), CAST(3 AS BIGINT)),
    ('many', CAST(10 AS INT), CAST(2 AS BIGINT)),
    ('many', CAST(20 AS INT), CAST(2 AS BIGINT)),
    ('many', CAST(30 AS INT), CAST(2 AS BIGINT))
  ) AS t(variant, weight, n_cells)
  ORDER BY variant, weight
"""


@register("golden_isochrone_hist", oracle=_ISO_ORACLE)
def golden_isochrone_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P9 (h3ron-graph/src/algorithm/within_weight_threshold.rs:
    136-184): the directed line graph traced from (lat 20, lng 10) to
    (lat 20, lng 20) at res 4 with weight 10 per edge. Threshold 30
    from the first line cell reaches 4 cells at weights {0,10,20,30};
    min-merged over origins [0,1,10] it reaches 9 cells with weight
    frequencies {0:3, 10:2, 20:2, 30:2}."""
    from h3ron_spark.graph import edge_graph_from_cell_pairs
    from h3ron_spark.graph.algorithms import within_weight_threshold
    from h3ron_spark.h3core.regions import line_to_cells

    seq = line_to_cells([(20.0, 10.0), (20.0, 20.0)], 4)
    pairs = local_df(
        spark,
        [(a, b, 10.0) for a, b in zip(seq, seq[1:])],
        "origin long, destination long, weight double",
    )
    g = edge_graph_from_cell_pairs(pairs, bidirectional=False).localCheckpoint(
        eager=True
    )
    single = within_weight_threshold(g, [seq[0]], 30.0, aggregate="min")
    many = within_weight_threshold(
        g, [seq[0], seq[1], seq[10]], 30.0, aggregate="min"
    )
    out = single.select(
        F.lit("single").alias("variant"),
        F.col("weight").cast("int").alias("weight"),
    ).unionByName(
        many.select(
            F.lit("many").alias("variant"),
            F.col("weight").cast("int").alias("weight"),
        )
    )
    return (
        out.groupBy("variant", "weight")
        .agg(F.count(F.lit(1)).alias("n_cells"))
        .orderBy("variant", "weight")
    )


# ---------------------------------------------------------------------
# G8/D9: cluster equality with the source disks
# ---------------------------------------------------------------------

_CLUSTERS_ORACLE = """
  SELECT * FROM (VALUES
    ('d1', CAST(37 AS BIGINT), CAST(1 AS BIGINT)),
    ('d2', CAST(19 AS BIGINT), CAST(1 AS BIGINT))
  ) AS t(src_disk, n_cells, n_src_disks)
  ORDER BY src_disk
"""


@register("golden_clusters_disks", oracle=_CLUSTERS_ORACLE)
def golden_clusters_disks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 (h3ron/src/algorithm/cell_clusters.rs:123-150
    find_cell_clusters_simple): disk(k=3) at (lat 14.5, lng 12.2) and
    disk(k=2) at (lat 45.5, lng 42.2), both res 6, form exactly two
    clusters, each equal to its source disk (37 and 19 cells, one
    source disk per cluster)."""
    from h3ron_spark.operators.clusters import cell_clusters

    centers = local_df(
        spark,
        [("d1", 14.5, 12.2, 3), ("d2", 45.5, 42.2, 2)],
        "src_disk string, lat double, lng double, k int",
    )
    cells = centers.select(
        "src_disk",
        F.explode(
            G.h3_grid_disk(
                G.h3_latlng_to_cell("lat", "lng", F.lit(6)), F.col("k")
            )
        ).alias("cell"),
    )
    labels = cell_clusters(cells.select("cell"), "cell")
    clustered = cells.join(labels, "cell")
    return (
        clustered.groupBy("cluster")
        .agg(
            F.min("src_disk").alias("src_disk"),
            F.count(F.lit(1)).alias("n_cells"),
            F.countDistinct("src_disk").alias("n_src_disks"),
        )
        .select("src_disk", "n_cells", "n_src_disks")
        .orderBy("src_disk")
    )


# ---------------------------------------------------------------------
# R1-R4: real-file raster ingestion (pure-Python GeoTIFF reader)
# ---------------------------------------------------------------------


def _golden_raster_fixture() -> str:
    """Write the deterministic single-band GeoTIFF fixture once per
    process (24x36 u8, value=((row//6)+(col//9))%4 with 0 as nodata,
    0.02deg pixels anchored at 8.0E/49.6N — the same shape/georef
    class as the reference's data/r.tiff, h3ify_r_tiff.rs:13-19)."""
    import os
    import tempfile

    import numpy as np

    from h3ron_spark.raster import Transform
    from h3ron_spark.sources.tiff import write_geotiff_uncompressed

    path = os.path.join(
        tempfile.gettempdir(), "h3ron_spark_golden_raster.tiff"
    )
    if not os.path.exists(path):
        rows, cols = np.indices((24, 36))
        band = (((rows // 6) + (cols // 9)) % 4).astype(np.uint8)
        write_geotiff_uncompressed(
            path,
            band,
            Transform(0.02, 0.0, 0.0, -0.02, 8.0, 49.6),
            nodata=0,
        )
    return path


_RASTER_FILE_ORACLE = """
  SELECT * FROM (VALUES
    (CAST(1 AS INT), CAST(144 AS BIGINT)),
    (CAST(2 AS INT), CAST(149 AS BIGINT)),
    (CAST(3 AS INT), CAST(148 AS BIGINT))
  ) AS t(value, n_cells)
  ORDER BY value
"""


@register("golden_raster_file", oracle=_RASTER_FILE_ORACLE)
def golden_raster_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 end-to-end on a real GeoTIFF FILE: decode band + geotransform
    + GDAL_NODATA with the built-in pure-Python reader (sources.tiff),
    pick the resolution via nearest_h3_resolution, centroid-polyfill
    each data pixel, count distinct cells per band value
    (h3ify_r_tiff.rs:13-49 is the same pipeline through GDAL)."""
    from h3ron_spark.sources import raster_file_to_cells

    cells = raster_file_to_cells(spark, _golden_raster_fixture())
    return (
        cells.groupBy(F.col("value").cast("int").alias("value"))
        .agg(F.countDistinct("cell").alias("n_cells"))
        .orderBy("value")
    )


# ---------------------------------------------------------------------
# P13: OSM .pbf -> linestrings -> H3 edge graph
# ---------------------------------------------------------------------


def _golden_pbf_fixture() -> str:
    """Write the deterministic .osm.pbf road-grid fixture once per
    process (5x6 node lattice near 49.4N/8.66E, 5 residential rows +
    6 primary columns — the io/osm.rs:30-121 ingestion shape)."""
    import os
    import tempfile

    from h3ron_spark.sources.osmpbf import write_osm_pbf

    path = os.path.join(tempfile.gettempdir(), "h3ron_spark_golden.osm.pbf")
    if not os.path.exists(path):
        nodes = []
        grid = {}
        nid = 100
        for r in range(5):
            for c in range(6):
                grid[(r, c)] = nid
                nodes.append((nid, 49.40 + 0.004 * r, 8.66 + 0.004 * c))
                nid += 3
        ways = []
        wid = 5000
        for r in range(5):
            ways.append(
                (
                    wid,
                    [grid[(r, c)] for c in range(6)],
                    {"highway": "residential"},
                )
            )
            wid += 7
        for c in range(6):
            ways.append(
                (wid, [grid[(r, c)] for r in range(5)], {"highway": "primary"})
            )
            wid += 7
        write_osm_pbf(path, nodes, ways)
    return path


_OSM_ORACLE = """
  SELECT * FROM (VALUES
    ('primary', CAST(192 AS BIGINT), CAST(102 AS BIGINT)),
    ('residential', CAST(122 AS BIGINT), CAST(66 AS BIGINT))
  ) AS t(highway, n_edges, n_origins)
  ORDER BY highway
"""


@register("golden_osm_pbf_graph", oracle=_OSM_ORACLE)
def golden_osm_pbf_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 end-to-end on a real .pbf FILE: decode with the built-in
    pure-Python PBF reader (blob directory driver-side, blob decode on
    executors), join way refs to node coords, trace linestrings to
    res-10 cells, build the min-weight edge graph per highway class,
    count edges + distinct origins (io/osm.rs:30-121 ->
    graph_from_linestrings)."""
    from h3ron_spark.graph.build import graph_from_linestrings
    from h3ron_spark.sources import osm_ways_to_linestrings

    path = _golden_pbf_fixture()
    out = []
    for hw in ("primary", "residential"):
        ls = osm_ways_to_linestrings(spark, path, highway_filter=[hw])
        g = graph_from_linestrings(ls, 10)
        agg = g.agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct("origin").alias("n_origins"),
        ).withColumn("highway", F.lit(hw))
        out.append(agg)
    res = out[0].unionByName(out[1])
    return res.select("highway", "n_edges", "n_origins").orderBy("highway")


# ---------------------------------------------------------------------
# P14 + P5: the reference's own Germany routing benchmark
# ---------------------------------------------------------------------

_GERMANY_GRAPH = "/root/reference/data/graph-germany_r7_f64.bincode.lz"

_GERMANY_ORACLE = """
  SELECT * FROM (VALUES
    ('871f14c2dffffff', CAST(1160.0 AS DOUBLE), CAST(363 AS INT)),
    ('871f0158cffffff', CAST(1330.0 AS DOUBLE), CAST(421 AS INT))
  ) AS t(dest_hex, cost, n_cells)
  ORDER BY dest_hex
"""


@register(
    "golden_germany_route", oracle=_GERMANY_ORACLE, requires=(_GERMANY_GRAPH,)
)
def golden_germany_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's route_germany benchmark (route_germany.rs:27-57)
    end-to-end on the reference's own committed graph file: decode
    `graph-germany_r7_f64.bincode.lz` (LZ4 frame + bincode,
    sources.refgraph), route Wangen im Allgäu -> {Emden, Stralsund}
    with the broadcast Dijkstra, return (destination, cost, path cell
    count). The bench asserts exactly two paths exist; costs/lengths
    are pinned as the engine's deterministic outputs on the committed
    input."""
    import math

    from h3ron_spark.graph.algorithms import (
        prepare_routing_graph,
        shortest_path_many_to_many,
    )
    from h3ron_spark.h3core import index as ix
    from h3ron_spark.sources.refgraph import reference_graph_to_edges

    edges = reference_graph_to_edges(spark, _GERMANY_GRAPH)
    # prepared-graph reuse across calls IS the reference bench's shape
    # (route_germany.rs:58-83 routes on one loaded PreparedH3EdgeGraph)
    prepared = session_stage(
        spark, ("prepared_graph", _GERMANY_GRAPH),
        lambda: prepare_routing_graph(edges),
    )
    origin = ix.latlng_to_cell(
        math.radians(47.68708804564653), math.radians(9.834909439086914), 7
    )
    dests = [
        ix.latlng_to_cell(
            math.radians(53.3689915114596), math.radians(7.20600128173828), 7
        ),
        ix.latlng_to_cell(
            math.radians(54.3153216473314), math.radians(13.092269897460938), 7
        ),
    ]
    paths = shortest_path_many_to_many(
        edges, [origin], dests, prepared=prepared
    )
    return (
        paths.select(
            B.h3_to_string("destination").alias("dest_hex"),
            F.col("cost").cast("double").alias("cost"),
            F.size("path_cells").alias("n_cells"),
        )
        .orderBy("dest_hex")
    )


# ---------------------------------------------------------------------
# P7: same-origin-and-destination routing semantics
# ---------------------------------------------------------------------

_SELFLOOP_ORACLE = """
  SELECT * FROM (VALUES
    ('origin', CAST(0.0 AS DOUBLE), CAST(1 AS INT), CAST(0 AS INT)),
    ('neighbor', CAST(5.0 AS DOUBLE), CAST(2 AS INT), CAST(1 AS INT))
  ) AS t(which, cost, n_path_cells, n_path_edges)
  ORDER BY which
"""


@register("golden_route_selfloop", oracle=_SELFLOOP_ORACLE)
def golden_route_selfloop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shortest_path.rs:428-464 (test_shortest_path_same_origin_and_
    destination): a micro-graph of ONE directed edge (weight 5) from
    the cell at lat 12.3 / lng 23.3, res 8; many-to-many to [origin,
    destination] must yield exactly the empty zero-cost path to the
    origin itself AND the one-edge cost-5 path to the neighbor —
    the origins-always-allowed destination rule."""
    import math

    from h3ron_spark.graph.algorithms import shortest_path_many_to_many
    from h3ron_spark.h3core import cells as CM
    from h3ron_spark.h3core import index as ix

    origin = ix.latlng_to_cell(
        math.radians(12.3), math.radians(23.3), 8
    )
    edge = CM.origin_to_directed_edges(origin)[0]
    destination = CM.directed_edge_to_cells(edge)[1]
    edges = local_df(
        spark,
        [(edge, origin, destination, 5.0)],
        "edge long, origin long, destination long, weight double",
    )
    paths = shortest_path_many_to_many(
        edges, [origin], [origin, destination]
    )
    return (
        paths.select(
            F.when(F.col("destination") == origin, "origin")
            .otherwise("neighbor")
            .alias("which"),
            F.col("cost").cast("double").alias("cost"),
            F.size("path_cells").alias("n_path_cells"),
            F.size("path_edges").alias("n_path_edges"),
        )
        .orderBy("which")
    )


# ---------------------------------------------------------------------
# P11: nearest graph nodes — the reference's own two cases
# ---------------------------------------------------------------------

_NEAREST_ORACLE = """
  SELECT * FROM (VALUES
    ('all_in_set', CAST(1 AS BIGINT), CAST(0 AS INT)),
    ('ring_window', CAST(2 AS BIGINT), CAST(2 AS INT))
  ) AS t(label, n_nearest, min_k)
  ORDER BY label
"""


@register("golden_nearest_nodes", oracle=_NEAREST_ORACLE)
def golden_nearest_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nearest_graph_nodes.rs:84-111: (a) with every disk(3) cell a
    graph node, the nearest lookup finds exactly the query cell
    itself (count 1, k 0); (b) with two nodes at k in {2,3} and two
    at k in {4,5}, the nearest-within-8 finds exactly the two closer
    ones (count 2, min k 2)."""
    from h3ron_spark.graph.algorithms import nearest_graph_nodes
    from h3ron_spark.h3core import cells as CM

    cell = 0x89283080DDBFFFF
    probe = local_df(spark, [(cell,)], "cell long")

    all_nodes = local_df(
        spark, [(c,) for c in CM.grid_disk(cell, 3)], "cell long"
    )
    a = nearest_graph_nodes(probe, all_nodes, 3).agg(
        F.lit("all_in_set").alias("label"),
        F.count(F.lit(1)).alias("n_nearest"),
        F.min("k").alias("min_k"),
    )

    window = [c for c, _ in
              [(c, k) for c, k in CM.grid_disk_distances(cell, 3, 2)][:2]]
    window += [c for c, k in CM.grid_disk_distances(cell, 5, 4)[:2]]
    ring_nodes = local_df(spark, [(c,) for c in window], "cell long")
    b = nearest_graph_nodes(probe, ring_nodes, 8).agg(
        F.lit("ring_window").alias("label"),
        F.count(F.lit(1)).alias("n_nearest"),
        F.min("k").alias("min_k"),
    )
    return a.unionByName(b).orderBy("label")


# ---------------------------------------------------------------------
# P2 NodeType algebra + P3 downsample — h3edge.rs committed tests
# ---------------------------------------------------------------------

_GRAPH_NODES_ORACLE = """
  SELECT * FROM (VALUES
    ('origin', CAST(1 AS INT)),
    ('e0_dest', CAST(2 AS INT)),
    ('e1_dest', CAST(3 AS INT)),
    ('e2_dest', CAST(2 AS INT))
  ) AS t(which, node_type)
  ORDER BY which
"""


@register("golden_graph_nodes", oracle=_GRAPH_NODES_ORACLE)
def golden_graph_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h3edge.rs:302-334 (test_graph_nodes): a 3-edge micro-graph at
    the (lat 12.3, lng 23.3) res-8 cell — origin is Origin(1), the
    first edge's destination is Destination(2), the second edge's
    destination (which itself originates the third edge) is
    OriginAndDestination(3), and the third edge's destination is
    Destination(2). Exactly 4 nodes."""
    import math

    from h3ron_spark.graph.build import graph_nodes
    from h3ron_spark.h3core import cells as CM
    from h3ron_spark.h3core import index as ix

    origin = ix.latlng_to_cell(math.radians(12.3), math.radians(23.3), 8)
    e = CM.origin_to_directed_edges(origin)
    d0 = CM.directed_edge_to_cells(e[0])[1]
    d1 = CM.directed_edge_to_cells(e[1])[1]
    e2 = CM.origin_to_directed_edges(d1)[0]
    d2 = CM.directed_edge_to_cells(e2)[1]
    edges = local_df(
        spark,
        [
            (e[0], origin, d0, 1.0),
            (e[1], origin, d1, 1.0),
            (e2, d1, d2, 1.0),
        ],
        "edge long, origin long, destination long, weight double",
    )
    nodes = graph_nodes(edges)
    name = (
        F.when(F.col("cell") == origin, "origin")
        .when(F.col("cell") == d0, "e0_dest")
        .when(F.col("cell") == d1, "e1_dest")
        .otherwise("e2_dest")
    )
    return nodes.select(
        name.alias("which"), F.col("node_type").cast("int")
    ).orderBy("which")


_DOWNSAMPLE_ORACLE = """
  SELECT * FROM (VALUES
    (CAST(112 AS BIGINT), CAST(11 AS BIGINT),
     CAST(20.0 AS DOUBLE))
  ) AS t(n_full_edges, n_down_edges, min_weight)
"""


@register("golden_downsample", oracle=_DOWNSAMPLE_ORACLE)
def golden_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h3edge.rs:280-299 (test_downsample): the res-8 trace of the
    line (12.3N 23.3E) -> (12.2N 24.2E) (>100 cells, >50 edges,
    weight 20) min-downsampled to res 5 has under 20 edges; the exact
    engine counts are pinned."""
    from h3ron_spark.graph.build import (
        downsample_graph,
        edge_graph_from_cell_pairs,
    )
    from h3ron_spark.h3core.regions import line_to_cells

    cells = line_to_cells([(12.3, 23.3), (12.2, 24.2)], 8)
    assert len(cells) > 100  # the reference's own bound
    pairs = [
        (a, b, 20.0) for a, b in zip(cells[:-1], cells[1:])
    ]
    edges = edge_graph_from_cell_pairs(
        local_df(
            spark, pairs, "origin long, destination long, weight double"
        )
    )
    down = downsample_graph(edges, 5, "min")
    n_full = edges.count()
    assert n_full > 50
    out = down.agg(
        F.lit(n_full).alias("n_full_edges"),
        F.count(F.lit(1)).alias("n_down_edges"),
        F.min("weight").cast("double").alias("min_weight"),
    )
    return out


# ---------------------------------------------------------------------
# X4-X6: the spatial-index predicate battery (h3ron-polars tests.rs)
# ---------------------------------------------------------------------

_SPATIAL_MASKS_ORACLE = """
  SELECT * FROM (VALUES
    (CAST(0 AS INT), 'false', 'true', 'true'),
    (CAST(1 AS INT), 'true', 'false', 'false'),
    (CAST(2 AS INT), 'false', 'false', 'false'),
    (CAST(3 AS INT), 'null', 'null', 'null')
  ) AS t(idx, within_dist, in_rect, in_poly)
  ORDER BY idx
"""


@register("golden_spatial_masks", oracle=_SPATIAL_MASKS_ORACLE)
def golden_spatial_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h3ron-polars/src/spatial_index/tests.rs:11-74 — the committed
    predicate battery shared by all three reference indexes (kdtree /
    rtree / hilbert-rtree; by design our H3-id layout replaces them,
    X1-X3): four cells [(lat 45.5, lng 45.5) res7, (-60.5, -60.5),
    (70.5, 120.5), invalid 55]. Within-distance of (-60, -60) ->
    [F, T, F, NULL]; rect (lat 40..50, lng 40..50) intersect ->
    [T, F, F, NULL]; polygon (lng 40..49, lat 40..50) intersect ->
    [T, F, F, NULL]. The reference's distance is 2.0 planar degrees;
    re-expressed geodesically as 100 km, which separates the same
    rows. NULL-for-invalid is the §1.2 contract."""
    import math

    from h3ron_spark.functions import bits as B
    from h3ron_spark.operators.spatial import (
        cells_in_polygon,
        cells_in_rect,
        cells_within_distance,
    )
    from h3ron_spark.h3core import index as ix

    cs = [
        ix.latlng_to_cell(math.radians(45.5), math.radians(45.5), 7),
        ix.latlng_to_cell(math.radians(-60.5), math.radians(-60.5), 7),
        ix.latlng_to_cell(math.radians(70.5), math.radians(120.5), 7),
        55,
    ]
    df = local_df(
        spark, [(i, c) for i, c in enumerate(cs)], "idx int, cell long"
    )
    valid = df.filter(B.h3_is_valid_cell("cell"))

    def mask(hits, name):
        return df.join(
            hits.select("cell", F.lit(True).alias(name)).distinct(),
            "cell",
            "left",
        ).select(
            "idx",
            "cell",
            F.when(
                B.h3_is_valid_cell("cell"),
                F.coalesce(F.col(name), F.lit(False)),
            ).alias(name),
        )

    wd = mask(
        cells_within_distance(valid, -60.0, -60.0, 100.0, 7), "within_dist"
    )
    rc = mask(cells_in_rect(valid, 40.0, 40.0, 50.0, 50.0, 7), "in_rect")
    ring = [(40.0, 40.0), (50.0, 40.0), (50.0, 49.0), (40.0, 49.0)]
    pg = mask(cells_in_polygon(valid, ring, 7), "in_poly")
    out = (
        wd.select("idx", "within_dist")
        .join(rc.select("idx", "in_rect"), "idx")
        .join(pg.select("idx", "in_poly"), "idx")
        .orderBy("idx")
    )
    # masks as strings ('true'/'false'/'null'): NULL booleans
    # stringify differently across engines in the compare layer
    return out.select(
        "idx",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("null")).alias(c)
            for c in ("within_dist", "in_rect", "in_poly")
        ],
    )


# ---------------------------------------------------------------------
# Edge-builder iterators (h3ron/src/iter/edge.rs:104-158): the
# following/previous edge sets of the first out-edge at the
# reference's (34.2, 30.5) res-7 test cell, pinned as hex strings.
# ---------------------------------------------------------------------

_EDGE_ITER_ORACLE = """
  SELECT * FROM (VALUES
    ('following', '1173e6cc1cffffff'),
    ('following', '1273e6cc1cffffff'),
    ('following', '1373e6cc1cffffff'),
    ('following', '1473e6cc1cffffff'),
    ('following', '1573e6cc1cffffff'),
    ('previous', '1173e6cc10ffffff'),
    ('previous', '1273e6cc02ffffff'),
    ('previous', '1373e6cc15ffffff'),
    ('previous', '1473e6cc1effffff'),
    ('previous', '1573e6cc13ffffff')
  ) AS t(kind, edge_hex)
  ORDER BY kind, edge_hex
"""


@register("golden_edge_iterators", oracle=_EDGE_ITER_ORACLE)
def golden_edge_iterators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """following_edges_leading_from_destination /
    previous_edges_leading_to_origin (iter/edge.rs:35-59, exercised by
    its tests at :118-158): both 5-edge sets for the first out-edge of
    the reference's (34.2, 30.5) res-7 cell, as hex strings."""
    cell = h3c.latlng_to_cell(30.5, 34.2, 7)
    edge = sorted(h3c.origin_to_directed_edges(cell))[0]
    df = local_df(spark, [(edge,)], "edge long")
    following = df.select(
        F.lit("following").alias("kind"),
        F.explode(G.h3_following_edges("edge")).alias("e"),
    )
    previous = df.select(
        F.lit("previous").alias("kind"),
        F.explode(G.h3_previous_edges("edge")).alias("e"),
    )
    return (
        following.unionByName(previous)
        .select("kind", B.h3_to_string("e").alias("edge_hex"))
        .orderBy("kind", "edge_hex")
    )


# ---------------------------------------------------------------------
# D7: partition_frame_by_resolution (h3ron-polars frame/resolution.rs)
# ---------------------------------------------------------------------

_PARTITION_RES_ORACLE = """
  SELECT * FROM (VALUES
    (CAST(5 AS INT), CAST(1 AS BIGINT), CAST(3 AS BIGINT)),
    (CAST(7 AS INT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
    (CAST(8 AS INT), CAST(2 AS BIGINT), CAST(3 AS BIGINT))
  ) AS t(h3_res, n_rows, sum_value)
  ORDER BY h3_res
"""


@register("golden_partition_by_resolution", oracle=_PARTITION_RES_ORACLE)
def golden_partition_by_resolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """D7 pinned to the reference's partition_frame_by_resolution test
    (h3ron-polars/src/algorithm/frame/resolution.rs:121-148): its four
    coordinate/res fixtures split into exactly three resolution
    partitions of sizes {5:1, 7:1, 8:2}, values riding along."""
    from h3ron_spark.operators.frame import partition_by_resolution

    fixture = [  # (lng, lat, res) — geo-types Coord is (x=lng, y=lat)
        (45.6, -45.8, 7),
        (45.6, -10.2, 8),
        (45.6, 50.2, 8),
        (-60.5, -23.1, 5),
    ]
    rows = [
        (h3c.latlng_to_cell(lat, lng, res), i)
        for i, (lng, lat, res) in enumerate(fixture)
    ]
    df = local_df(spark, rows, "cell long, value long")
    parts = partition_by_resolution(df, "cell")
    return (
        parts.groupBy("h3_res")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("value").alias("sum_value"),
        )
        .orderBy("h3_res")
    )


# ---------------------------------------------------------------------
# P15: continuous_cells_to_edges on the reference's res-4 test line
# ---------------------------------------------------------------------

_CELLS_TO_EDGES_ORACLE = """
  SELECT * FROM (VALUES
    ('n_cells', CAST(25 AS BIGINT)),
    ('n_edges', CAST(24 AS BIGINT)),
    ('null_edges', CAST(0 AS BIGINT)),
    ('first_origin_matches', CAST(1 AS BIGINT)),
    ('last_dest_matches', CAST(1 AS BIGINT))
  ) AS t(what, val)
  ORDER BY what
"""


@register("golden_cells_to_edges", oracle=_CELLS_TO_EDGES_ORACLE)
def golden_cells_to_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15 pinned to the reference's test_continuous_cells_to_edges
    (h3ron/src/iter/edge.rs:160-185): the res-4 trace of the line
    (10,20)->(20,20) yields 25 continuous cells; the lag-window edge
    construction emits exactly cells-1 valid edges whose first origin
    and last destination are the line's end cells."""
    from h3ron_spark.h3core.regions import line_to_cells
    from h3ron_spark.operators.neighbors import continuous_cells_to_edges

    cells = line_to_cells([(20.0, 10.0), (20.0, 20.0)], 4)
    df = local_df(
        spark, list(enumerate(cells)), "pos int, cell long"
    )
    edges = continuous_cells_to_edges(df, "cell", "pos").select(
        "pos", "cell", "next_cell", "edge",
        B.h3_edge_origin("edge").alias("_eo"),
        G.h3_edge_destination("edge").alias("_ed"),
    )
    agg = edges.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.col("edge").isNull().cast("long")).alias("null_edges"),
        F.max(
            ((F.col("pos") == 0) & (F.col("_eo") == F.lit(cells[0])))
            .cast("long")
        ).alias("first_origin_matches"),
        F.max(
            (
                (F.col("next_cell") == F.lit(cells[-1]))
                & (F.col("_ed") == F.lit(cells[-1]))
            ).cast("long")
        ).alias("last_dest_matches"),
    ).withColumn("n_cells", F.lit(len(cells)).cast("long"))
    long = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w).alias("what"),
                        F.col(w).cast("long").alias("val"),
                    )
                    for w in (
                        "n_cells",
                        "n_edges",
                        "null_edges",
                        "first_origin_matches",
                        "last_dest_matches",
                    )
                ]
            )
        ).alias("s")
    ).select("s.what", "s.val")
    return long.orderBy("what")


# ---------------------------------------------------------------------
# P16: neighbors_within_distance_window (iter/neighbor.rs tests)
# ---------------------------------------------------------------------

_NEIGHBOR_WINDOW_ORACLE = """
  SELECT * FROM (VALUES
    ('or_default', CAST(6 AS BIGINT), CAST(36 AS BIGINT),
     CAST(24 AS BIGINT)),
    ('window', CAST(6 AS BIGINT), CAST(36 AS BIGINT), CAST(36 AS BIGINT)),
    ('window_empty', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
     CAST(0 AS BIGINT))
  ) AS t(variant, n_rows, sum_neighbor_value, sum_cell_value)
  ORDER BY variant
"""


@register("golden_neighbor_window", oracle=_NEIGHBOR_WINDOW_ORACLE)
def golden_neighbor_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P16 pinned to the reference's three
    neighbors_within_distance_window[_or_default] tests
    (h3ron/src/iter/neighbor.rs:154-228) at its (12.3, 45.4) res-6
    cell, window [1,1]: values-everywhere -> 6 neighbors valued 6;
    center-only value 4 + default 6 -> 6 defaulted rows with
    cell_value 4; empty value map -> zero rows."""
    from h3ron_spark.operators.neighbors import (
        neighbors_within_distance_window,
    )

    cell = h3c.latlng_to_cell(45.4, 12.3, 6)  # Coord (x=lng 12.3, y=lat 45.4)
    cells = local_df(spark, [(cell,)], "cell long")
    disk2_vals = local_df(
        spark,
        [(c, 6) for c in h3c.grid_disk(cell, 2)],
        "cell long, value int",
    )
    center_val = local_df(spark, [(cell, 4)], "cell long, value int")
    empty_vals = disk2_vals.filter(F.lit(False))

    def summarize(variant, out):
        return out.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.sum("neighbor_value"), F.lit(0))
            .cast("long")
            .alias("sum_neighbor_value"),
            F.coalesce(F.sum("cell_value"), F.lit(0))
            .cast("long")
            .alias("sum_cell_value"),
        ).withColumn("variant", F.lit(variant))

    win = summarize(
        "window",
        neighbors_within_distance_window(cells, disk2_vals, 1, 1),
    )
    dflt = summarize(
        "or_default",
        neighbors_within_distance_window(
            cells, center_val, 1, 1, default=6
        ),
    )
    empty = summarize(
        "window_empty",
        neighbors_within_distance_window(
            cells, empty_vals, 1, 1, default=6
        ),
    )
    return (
        win.unionByName(dflt)
        .unionByName(empty)
        .select("variant", "n_rows", "sum_neighbor_value", "sum_cell_value")
        .orderBy("variant")
    )


# ---------------------------------------------------------------------
# S27: the 122 res-0 base cells — full per-row oracle computed in SQL
# ---------------------------------------------------------------------

_RES0_ORACLE = """
  SELECT ((1::BIGINT << 59) | (range::BIGINT << 45) | ((1::BIGINT << 45) - 1))
           AS cell,
         CAST(0 AS INT) AS res,
         range::INT AS base_cell,
         (range IN (4,14,24,38,49,58,63,72,83,97,107,117)) AS is_pentagon
  FROM range(122)
"""


@register("golden_res0_cells", oracle=_RES0_ORACLE)
def golden_res0_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S27 res0_cells (h3ron/src/lib.rs:134-144): the 122 base cells
    with their accessors. The oracle *constructs* all 122 res-0
    indexes independently from the public bit layout (mode 1, base
    cell b, all digits 7), so every row is hash-checked — including
    the 12 pentagon flags."""
    from h3ron_spark.sources import res0_cells_table

    t = res0_cells_table(spark)
    return t.select(
        "cell",
        B.h3_get_resolution("cell").alias("res"),
        B.h3_get_base_cell("cell").alias("base_cell"),
        B.h3_is_pentagon("cell").alias("is_pentagon"),
    )


# ---------------------------------------------------------------------
# D8: boundary-merge bounding rect over a pinned disk (+ far outlier)
# ---------------------------------------------------------------------

_BRECT_ORACLE = """
  SELECT * FROM (VALUES (
    CAST(-45.00139103 AS DOUBLE), CAST(37.819020588 AS DOUBLE),
    CAST(-122.419459559 AS DOUBLE), CAST(100.001809414 AS DOUBLE)
  )) AS t(min_lat, max_lat, min_lng, max_lng)
"""


@register("golden_bounding_rect", oracle=_BRECT_ORACLE)
def golden_bounding_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 bounding_rect (h3ron-polars/src/algorithm/bounding_rect.rs:
    11-40): per-cell polygon bboxes merged over the frame — computed
    over grid_disk(0x89283080ddbffff, 2) plus one far southern cell,
    so the merge provably tracks boundary vertices (not centroids)
    and spans disjoint regions. Values pinned from the parity-tested
    boundary kernel, rounded 9 dp."""
    from h3ron_spark.operators.frame import bounding_rect

    cells = list(h3c.grid_disk(_CELL, 2)) + [
        h3c.latlng_to_cell(-45.0, 100.0, 9)
    ]
    df = local_df(spark, [(c,) for c in cells], "cell long")
    box = bounding_rect(df, "cell")
    return box.select(
        *[F.round(c, 9).alias(c) for c in box.columns]
    )


# ---------------------------------------------------------------------
# G7: aligned dissolve of the donut ring (to_aligned_linked_polygons)
# ---------------------------------------------------------------------

_ALIGNED_DISSOLVE_ORACLE = """
  SELECT * FROM (VALUES
    ('846b1d1ffffffff', CAST(7 AS BIGINT), CAST(1 AS BIGINT),
     CAST(23 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
    ('846b1d5ffffffff', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
     CAST(7 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
    ('846b1d9ffffffff', CAST(2 AS BIGINT), CAST(1 AS BIGINT),
     CAST(11 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
    ('846b1ddffffffff', CAST(26 AS BIGINT), CAST(1 AS BIGINT),
     CAST(39 AS BIGINT), CAST(1 AS BIGINT), CAST(7 AS BIGINT))
  ) AS t(align_hex, n_cells, n_polygons, exterior_coords,
         n_interiors, interior_coords)
  ORDER BY align_hex
"""


@register("golden_aligned_dissolve", oracle=_ALIGNED_DISSOLVE_ORACLE)
def golden_aligned_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 to_aligned_linked_polygons (h3ron-polars/src/algorithm/
    to_geo.rs — align variant of the donut test at h3ron/src/
    to_geo.rs:252-263): the k=1..3 band around the pinned (23.3,12.3)
    res-6 cell, dissolved per res-4 parent (four discriminating align
    groups). Per align group: cell count, polygon/ring statistics
    (closed-ring convention)."""
    from h3ron_spark.operators.dissolve import dissolve_ring_stats_df

    center = h3c.latlng_to_cell(12.3, 23.3, 6)
    band = [
        c
        for k in (1, 2, 3)
        for c in h3c.grid_ring(center, k)
    ]
    df = local_df(spark, [(c,) for c in band], "cell long").withColumn(
        "align_cell", B.h3_to_parent("cell", 4)
    )
    stats = dissolve_ring_stats_df(df, "cell", group_cols=["align_cell"])
    counts = df.groupBy("align_cell").agg(F.count(F.lit(1)).alias("n_cells"))
    return (
        stats.join(counts, "align_cell")
        .select(
            B.h3_to_string("align_cell").alias("align_hex"),
            "n_cells",
            "n_polygons",
            "exterior_coords",
            "n_interiors",
            "interior_coords",
        )
        .orderBy("align_hex")
    )


# ---------------------------------------------------------------------
# P10: differential route on a pinned two-path graph
# ---------------------------------------------------------------------

_DIFF_ROUTE_ORACLE = """
  SELECT * FROM (VALUES
    ('cut',    CAST(0 AS INT), CAST(50.0 AS DOUBLE), CAST(NULL AS DOUBLE)),
    ('cut',    CAST(1 AS INT), CAST(80.0 AS DOUBLE), CAST(NULL AS DOUBLE)),
    ('detour', CAST(0 AS INT), CAST(50.0 AS DOUBLE), CAST(75.0 AS DOUBLE)),
    ('detour', CAST(1 AS INT), CAST(80.0 AS DOUBLE), CAST(105.0 AS DOUBLE)),
    ('noop',   CAST(0 AS INT), CAST(50.0 AS DOUBLE), CAST(50.0 AS DOUBLE)),
    ('noop',   CAST(1 AS INT), CAST(80.0 AS DOUBLE), CAST(80.0 AS DOUBLE))
  ) AS t(variant, is_far_dest, cost_before, cost_after)
  ORDER BY variant, is_far_dest
"""


def _diff_route_graph(spark: SparkSession):
    """The isochrone line graph (within_weight_threshold.rs fixture)
    plus a weight-15 three-hop bypass around seq[3] (through two
    off-line neighbors of seq[3], each hop H3-adjacent) — so excluding
    seq[3] reroutes (cost +25) instead of disconnecting, and excluding
    a non-path cell is a no-op."""
    from h3ron_spark.graph import edge_graph_from_cell_pairs
    from h3ron_spark.h3core.regions import line_to_cells

    seq = line_to_cells([(20.0, 10.0), (20.0, 20.0)], 4)
    # bypass path seq[2] -> b1 -> b2 -> seq[4]: walk the ring around
    # seq[3]; every hop must be a real H3 neighbor pair so the edge
    # builder accepts it
    on_line = set(seq)
    ring = [c for c in h3c.grid_ring(seq[3], 1) if c not in on_line]
    b1 = next(c for c in ring if h3c.grid_distance(c, seq[2]) == 1)
    b2 = next(
        c
        for c in ring
        if c != b1
        and h3c.grid_distance(c, b1) == 1
        and h3c.grid_distance(c, seq[4]) == 1
    )
    pairs = [(a, b, 10.0) for a, b in zip(seq, seq[1:])]
    pairs += [(seq[2], b1, 15.0), (b1, b2, 15.0), (b2, seq[4], 15.0)]
    df = local_df(
        spark, pairs, "origin long, destination long, weight double"
    )
    return edge_graph_from_cell_pairs(df, bidirectional=False), seq, (b1, b2)


@register("golden_differential_route", oracle=_DIFF_ROUTE_ORACLE)
def golden_differential_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 DifferentialShortestPath (h3ron-graph/src/algorithm/
    differential_shortest_path.rs:32-139): origin seq[0] to dests
    {seq[5], seq[8]} with cell set {seq[3]} removed — both routes
    detour over the weight-15 bypass (cost +10); removing a cell off
    every path (the far southern cell) changes nothing; removing
    seq[1] (before the bypass splits) disconnects both (NULL
    cost_after)."""
    from h3ron_spark.graph import differential_shortest_path

    g, seq, _bypass = _diff_route_graph(spark)
    g = g.localCheckpoint(eager=True)
    far = h3c.latlng_to_cell(-45.0, 100.0, 4)

    def leg(variant, excl):
        out = differential_shortest_path(
            g, [seq[0]], [seq[5], seq[8]], excl
        )
        return out.select(
            F.lit(variant).alias("variant"),
            (
                F.col("destination") == F.lit(seq[8])
            ).cast("int").alias("is_far_dest"),
            F.round("cost_before", 4).alias("cost_before"),
            F.round("cost_after", 4).alias("cost_after"),
        )

    out = (
        leg("detour", [seq[3]])
        .unionByName(leg("noop", [far]))
        .unionByName(leg("cut", [seq[1]]))
    )
    return out.orderBy("variant", "is_far_dest")


# ---------------------------------------------------------------------
# P12: covered area of the pinned line graph
# ---------------------------------------------------------------------

_COVERED_AREA_ORACLE = """
  SELECT * FROM (VALUES
    (CAST(10 AS INT), CAST(41 AS INT), 'MULTIPOLYGON (')
  ) AS t(n_cells, n_wkt_points, wkt_prefix)
"""


@register("golden_covered_area", oracle=_COVERED_AREA_ORACLE)
def golden_covered_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 CoveredArea (h3ron-graph/src/algorithm/covered_area.rs:
    13-52): node coverage of the pinned line graph dissolved at
    reduce_res 3 — polygon count, total covered parent cells, and the
    WKT vertex count of the dissolved outline (deterministic ring
    walk)."""
    from h3ron_spark.graph import covered_area

    g, _seq, _bypass = _diff_route_graph(spark)
    out = covered_area(g, 3)
    return out.select(
        F.col("n_cells"),
        F.size(F.split("geometry_wkt", ",")).alias("n_wkt_points"),
        F.substring("geometry_wkt", 1, 14).alias("wkt_prefix"),
    )


# ---------------------------------------------------------------------
# S23/S24/P8: edge metrics, edge geometry, Path value objects
# ---------------------------------------------------------------------

# Second consecutive edge: destination cell's out-edge that does not
# return to _CELL (computed once from the public bit layout).
_EDGE2 = 0x119283080CA7FFFF

_EDGE_METRICS_ORACLE = """
  SELECT * FROM (VALUES
    ('avg_len_m_res9_e3', '200786'),
    ('boundary_wkt', 'LINESTRING (-122.411015954 37.809283337, -122.408684133 37.809461494)'),
    ('centroid_dist_m_e6', '354705770'),
    ('edge_len_km_e9', '205806573'),
    ('edge_len_m_e6', '205806573'),
    ('edge_len_rads_e12', '32303617'),
    ('edge_line_wkt', 'LINESTRING (-122.409944099 37.810965650, -122.409756002 37.807779171)'),
    ('empty_path_is_empty', 'true'),
    ('path_cells', '89283080ddbffff,89283080ca7ffff,89283080dd3ffff'),
    ('path_edge_count', '2'),
    ('path_len_m_e6', '415234922'),
    ('path_line_wkt', 'LINESTRING (-122.409944099 37.810965650, -122.409756002 37.807779171, -122.413347733 37.809105137)'),
    ('path_order', 'first>a>b>c>last')
  ) AS t(what, val)
  ORDER BY what
"""


@register("golden_edge_metrics", oracle=_EDGE_METRICS_ORACLE)
def golden_edge_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S23+S24+P8 exact-value battery on the canonical directed edge
    0x149283080ddbffff (h3ron/src/directed_edge.rs:348-400): lengths
    in m/km/rads and the cell-centroid distance (pinned at fixed-point
    precision; the reference's `length_m < centroid_dist < 2*length_m`
    invariant holds on the pinned values: 205.81 < 354.71 < 411.61),
    the boundary and centroid linestring WKTs (directed_edge.rs:
    139-151,218-259), the res-9 average edge length lookup, and the
    Path value-object surface (h3ron-graph/src/algorithm/path.rs:
    12-220): cells(), length_m, merged to_linestring over a 2-edge
    consecutive path, and the deterministic (cost, origin,
    destination) ordering of path.rs:194-206 over a tie-cost fixture.
    """
    from h3ron_spark.graph import path as P

    e = local_df(spark, [(_EDGE,)], "edge long")

    def fx(col, scale):
        # fixed-point pin: floor(x*scale + 0.5) — deterministic on
        # identical doubles, no decimal re-interpretation
        return F.floor(col * F.lit(scale) + F.lit(0.5)).cast("long").cast("string")

    metrics = e.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("edge_len_m_e6").alias("what"),
                    fx(G.h3_edge_length_m("edge"), 1e6).alias("val"),
                ),
                F.struct(
                    F.lit("edge_len_km_e9").alias("what"),
                    fx(G.h3_edge_length_km("edge"), 1e9).alias("val"),
                ),
                F.struct(
                    F.lit("edge_len_rads_e12").alias("what"),
                    fx(G.h3_edge_length_rads("edge"), 1e12).alias("val"),
                ),
                F.struct(
                    F.lit("centroid_dist_m_e6").alias("what"),
                    fx(
                        G.h3_cell_centroid_distance_m(
                            B.h3_edge_origin("edge"),
                            G.h3_edge_destination("edge"),
                        ),
                        1e6,
                    ).alias("val"),
                ),
                F.struct(
                    F.lit("avg_len_m_res9_e3").alias("what"),
                    fx(B.h3_edge_length_avg_m(F.lit(9)), 1e3).alias("val"),
                ),
                F.struct(
                    F.lit("boundary_wkt").alias("what"),
                    G.h3_edge_boundary_wkt("edge").alias("val"),
                ),
                F.struct(
                    F.lit("edge_line_wkt").alias("what"),
                    P.path_linestring_wkt(F.array("edge")).alias("val"),
                ),
            )
        ).alias("s")
    ).select("s.what", "s.val")

    path2 = local_df(spark, [([_EDGE, _EDGE2],)], "edges array<long>")
    path_rows = path2.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("path_edge_count").alias("what"),
                    P.path_edge_count("edges").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("empty_path_is_empty").alias("what"),
                    P.path_is_empty(F.array().cast("array<long>"))
                    .cast("string")
                    .alias("val"),
                ),
                F.struct(
                    F.lit("path_cells").alias("what"),
                    F.array_join(
                        F.transform(
                            P.path_cells_col("edges"),
                            lambda c: F.lower(F.hex(c)),
                        ),
                        ",",
                    ).alias("val"),
                ),
                F.struct(
                    F.lit("path_len_m_e6").alias("what"),
                    fx(P.path_length_m("edges"), 1e6).alias("val"),
                ),
                F.struct(
                    F.lit("path_line_wkt").alias("what"),
                    P.path_linestring_wkt("edges").alias("val"),
                ),
            )
        ).alias("s")
    ).select("s.what", "s.val")

    # path.rs:194-206 ordering battery: ties on cost resolve by
    # origin, then destination — array_sort over the struct fields in
    # exactly that order, JVM-side and partition-count independent
    order_fix = local_df(
        spark,
        [
            (3.0, 200, 100, "c"),
            (3.0, 100, 200, "a"),
            (3.0, 100, 300, "b"),
            (1.0, 999, 999, "first"),
            (9.0, 1, 1, "last"),
        ],
        "cost double, origin long, destination long, label string",
    )
    order_row = order_fix.agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("cost", "origin", "destination", "label")
                    )
                ),
                lambda s: s.label,
            ),
            ">",
        ).alias("val")
    ).select(F.lit("path_order").alias("what"), "val")

    return metrics.unionByName(path_rows).unionByName(order_row).orderBy("what")


# ---------------------------------------------------------------------
# B1/B2/B4/B5/P8 demo assertions folded into golden constants
# (VERDICT r3 item 4: the geo_* demos stay rows-only bench workloads;
# these fixtures hash-pin the same kernels on constant inputs)
# ---------------------------------------------------------------------

# res-2 pentagon (center child of base cell 4) — the disk kernel's
# hard case (h3ron/src/iter/grid_disk.rs pentagon handling)
_PENT2 = 0x820807FFFFFFFFF

_DISK_CHECKSUMS_ORACLE = """
  SELECT * FROM (VALUES
    ('disk3', 'pent2', CAST(0 AS INT), CAST(1 AS BIGINT), CAST(585609238802333695 AS BIGINT), CAST(585609238802333695 AS BIGINT), CAST(585609238802333695 AS BIGINT)),
    ('disk3', 'pent2', CAST(1 AS INT), CAST(5 AS BIGINT), CAST(585612537337217023 AS BIGINT), CAST(585610338313961471 AS BIGINT), CAST(585612537337217023 AS BIGINT)),
    ('disk3', 'pent2', CAST(2 AS INT), CAST(10 AS BIGINT), CAST(2199023255552 AS BIGINT), CAST(585620233918611455 AS BIGINT), CAST(585638375860469759 AS BIGINT)),
    ('disk3', 'pent2', CAST(3 AS INT), CAST(15 AS BIGINT), CAST(585639475372097535 AS BIGINT), CAST(585618034895355903 AS BIGINT), CAST(585637826104655871 AS BIGINT)),
    ('disk3', 'sf2', CAST(0 AS INT), CAST(1 AS BIGINT), CAST(585961082523222015 AS BIGINT), CAST(585961082523222015 AS BIGINT), CAST(585961082523222015 AS BIGINT)),
    ('disk3', 'sf2', CAST(1 AS INT), CAST(5 AS BIGINT), CAST(585964381058105343 AS BIGINT), CAST(585962182034849791 AS BIGINT), CAST(585964381058105343 AS BIGINT)),
    ('disk3', 'sf2', CAST(2 AS INT), CAST(10 AS BIGINT), CAST(2199023255552 AS BIGINT), CAST(585972077639499775 AS BIGINT), CAST(585990219581358079 AS BIGINT)),
    ('disk3', 'sf2', CAST(3 AS INT), CAST(15 AS BIGINT), CAST(585991319092985855 AS BIGINT), CAST(585969878616244223 AS BIGINT), CAST(585989669825544191 AS BIGINT)),
    ('disk3', 'sf9', CAST(0 AS INT), CAST(1 AS BIGINT), CAST(617700169518678015 AS BIGINT), CAST(617700169518678015 AS BIGINT), CAST(617700169518678015 AS BIGINT)),
    ('disk3', 'sf9', CAST(1 AS INT), CAST(6 AS BIGINT), CAST(31719424 AS BIGINT), CAST(617700169491152895 AS BIGINT), CAST(617700169518153727 AS BIGINT)),
    ('disk3', 'sf9', CAST(2 AS INT), CAST(12 AS BIGINT), CAST(0 AS BIGINT), CAST(617700169489842175 AS BIGINT), CAST(617700170014916607 AS BIGINT)),
    ('disk3', 'sf9', CAST(3 AS INT), CAST(18 AS BIGINT), CAST(20971520 AS BIGINT), CAST(617700169488007167 AS BIGINT), CAST(617700170015703039 AS BIGINT)),
    ('ring23', 'pent2', CAST(2 AS INT), CAST(10 AS BIGINT), CAST(2199023255552 AS BIGINT), CAST(585620233918611455 AS BIGINT), CAST(585638375860469759 AS BIGINT)),
    ('ring23', 'pent2', CAST(3 AS INT), CAST(15 AS BIGINT), CAST(585639475372097535 AS BIGINT), CAST(585618034895355903 AS BIGINT), CAST(585637826104655871 AS BIGINT)),
    ('ring23', 'sf2', CAST(2 AS INT), CAST(10 AS BIGINT), CAST(2199023255552 AS BIGINT), CAST(585972077639499775 AS BIGINT), CAST(585990219581358079 AS BIGINT)),
    ('ring23', 'sf2', CAST(3 AS INT), CAST(15 AS BIGINT), CAST(585991319092985855 AS BIGINT), CAST(585969878616244223 AS BIGINT), CAST(585989669825544191 AS BIGINT)),
    ('ring23', 'sf9', CAST(2 AS INT), CAST(12 AS BIGINT), CAST(0 AS BIGINT), CAST(617700169489842175 AS BIGINT), CAST(617700170014916607 AS BIGINT)),
    ('ring23', 'sf9', CAST(3 AS INT), CAST(18 AS BIGINT), CAST(20971520 AS BIGINT), CAST(617700169488007167 AS BIGINT), CAST(617700170015703039 AS BIGINT))
  ) AS t(variant, owner, k, n_cells, xor_cells, min_cell, max_cell)
  ORDER BY variant, owner, k
"""


@register("golden_disk_checksums", oracle=_DISK_CHECKSUMS_ORACLE)
def golden_disk_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_disk_explode's per-ring histogram assertion (S10/S12,
    iter/grid_disk.rs:16-100) on constant inputs: full k<=3 disks and
    hollow 2..3 ring windows around the canonical res-9 cell, its res-2
    parent, and the res-2 PENTAGON 0x820807fffffffff — per (variant,
    owner, k) cell count + bit_xor/min/max checksums. Pentagon rings
    are 5-cell at k=1 (not 6) and the deleted-subsequence distortion
    must shift the checksums exactly as the vectorized kernel says."""
    cells = local_df(
        spark,
        [("sf9", _CELL), ("sf2", 0x821C07FFFFFFFFF), ("pent2", _PENT2)],
        "owner string, cell long",
    )
    full = cells.select(
        F.lit("disk3").alias("variant"),
        "owner",
        F.explode(G.h3_grid_disk_distances("cell", F.lit(3))).alias("nd"),
    )
    hollow = cells.select(
        F.lit("ring23").alias("variant"),
        "owner",
        F.explode(
            G.h3_grid_disk_distances_range("cell", F.lit(2), F.lit(3))
        ).alias("nd"),
    )
    return (
        full.unionByName(hollow)
        .groupBy("variant", "owner", F.col("nd.k").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.expr("bit_xor(nd.cell)").alias("xor_cells"),
            F.min("nd.cell").alias("min_cell"),
            F.max("nd.cell").alias("max_cell"),
        )
        .orderBy("variant", "owner", "k")
    )


_ENCODE_SWEEP_ORACLE = """
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(2520 AS BIGINT), CAST(2423 AS BIGINT), CAST(334732571181056 AS BIGINT), CAST(589971688624488447 AS BIGINT), CAST(594258821900140543 AS BIGINT)),
    (CAST(8 AS INT), CAST(2520 AS BIGINT), CAST(2520 AS BIGINT), CAST(2170346025254912 AS BIGINT), CAST(612489624526258175 AS BIGINT), CAST(616776809075179519 AS BIGINT)),
    (CAST(12 AS INT), CAST(2520 AS BIGINT), CAST(2520 AS BIGINT), CAST(2170355097284096 AS BIGINT), CAST(630504023034758143 AS BIGINT), CAST(634791207584094719 AS BIGINT))
  ) AS t(res, n_points, n_cells, xor_cells, min_cell, max_cell)
  ORDER BY res
"""


@register("golden_encode_sweep", oracle=_ENCODE_SWEEP_ORACLE)
def golden_encode_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_cell_rollup's encode assertion (S1, the B1 kernel) on a
    constant world sweep: a 35x72 lat/lng grid (lat -85..85 step 5,
    lng -180..175 step 5 — poles, antimeridian, and every icosa face)
    encoded at res 3/8/12 by the vectorized Arrow kernel, reduced to
    per-res count / distinct count / bit_xor / min / max. Any drift in
    face selection, CII rotation, or digit layout moves the xor."""
    grid = (
        _one_row(spark)
        .select(F.explode(F.sequence(F.lit(-85), F.lit(85), F.lit(5))).alias("lat_i"))
        .select(
            "lat_i",
            F.explode(F.sequence(F.lit(-180), F.lit(175), F.lit(5))).alias("lng_i"),
        )
        .select(
            F.col("lat_i").cast("double").alias("lat"),
            F.col("lng_i").cast("double").alias("lng"),
        )
    )
    res = grid.select(
        "lat",
        "lng",
        F.explode(F.array(F.lit(3), F.lit(8), F.lit(12))).alias("res"),
    )
    enc = res.select(
        "res", G.h3_latlng_to_cell("lat", "lng", "res").alias("cell")
    )
    return (
        enc.groupBy("res")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.countDistinct("cell").alias("n_cells"),
            F.expr("bit_xor(cell)").alias("xor_cells"),
            F.min("cell").alias("min_cell"),
            F.max("cell").alias("max_cell"),
        )
        .orderBy("res")
    )


_ROUTE_LINES_ORACLE = """
  SELECT * FROM (VALUES
    (CAST(3 AS INT), CAST(9 AS INT), CAST(591071268971741183 AS BIGINT), CAST(1 AS INT), CAST(1 AS INT)),
    (CAST(4 AS INT), CAST(25 AS INT), CAST(595574851419242495 AS BIGINT), CAST(1 AS INT), CAST(1 AS INT)),
    (CAST(5 AS INT), CAST(59 AS INT), CAST(600079933884071935 AS BIGINT), CAST(1 AS INT), CAST(1 AS INT)),
    (CAST(6 AS INT), CAST(173 AS INT), CAST(604583642764673023 AS BIGINT), CAST(1 AS INT), CAST(1 AS INT))
  ) AS t(res, n_cells, xor_cells, starts_at_a, ends_at_b)
  ORDER BY res
"""


@register("golden_route_lines", oracle=_ROUTE_LINES_ORACLE)
def golden_route_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_route_line's trace assertion (S14 grid_path_cells, the B5
    building block; h3ron/src/cell.rs line tests): constant endpoint
    pairs (lat 20, lng 10)->(lat 20, lng 20) encoded at res 3..6 —
    per-res path cell count, bit_xor checksum, and the
    endpoints-are-terminal flags. Path length grows ~3x per res step;
    a drifted local-IJ lerp changes the xor without changing n."""
    pairs = local_df(spark, [(3,), (4,), (5,), (6,)], "res int").select(
        "res",
        G.h3_latlng_to_cell(F.lit(20.0), F.lit(10.0), "res").alias("a"),
        G.h3_latlng_to_cell(F.lit(20.0), F.lit(20.0), "res").alias("b"),
    )
    traced = pairs.select(
        "res", "a", "b", G.h3_grid_path("a", "b").alias("path")
    )
    return traced.select(
        "res",
        F.size("path").alias("n_cells"),
        F.aggregate(
            "path", F.lit(0).cast("long"), lambda acc, c: acc.bitwiseXOR(c)
        ).alias("xor_cells"),
        (F.element_at("path", 1) == F.col("a")).cast("int").alias("starts_at_a"),
        (F.element_at("path", -1) == F.col("b")).cast("int").alias("ends_at_b"),
    ).orderBy("res")


_POLYFILL_RECT_ORACLE = """
  SELECT * FROM (VALUES
    (CAST(604189370672480255 AS BIGINT), CAST(28 AS BIGINT), CAST(3145728 AS BIGINT)),
    (CAST(604189371209351167 AS BIGINT), CAST(78 AS BIGINT), CAST(13107200 AS BIGINT)),
    (CAST(604189372417310719 AS BIGINT), CAST(48 AS BIGINT), CAST(5767168 AS BIGINT))
  ) AS t(region, n_cells, xor_cells)
  ORDER BY region
"""


@register("golden_polyfill_rect", oracle=_POLYFILL_RECT_ORACLE)
def golden_polyfill_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_polyfill_filter's refine assertion (X4 envelopes_intersect,
    the B4 operator) on a constant cellset: the k<=12 res-8 disk of the
    canonical cell (469 cells) filtered by a rect that slices it
    diagonally — per res-6 parent region hit counts + xor. A
    mis-refined AOI edge moves counts between regions; an over-eager
    coarse probe admits whole extra regions."""
    from h3ron_spark.operators.spatial import cells_in_rect

    disk = local_df(spark, [(_CELL,)], "seed long").select(
        F.explode(G.h3_grid_disk("seed", F.lit(12))).alias("cell")
    )
    hits = cells_in_rect(disk, 37.75, -122.46, 37.82, -122.41, 8, "cell")
    return (
        hits.groupBy(B.h3_to_parent("cell", 6).alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.expr("bit_xor(cell)").alias("xor_cells"),
        )
        .orderBy("region")
    )


_ROUTE_PATH_STATS_ORACLE = """
  SELECT * FROM (VALUES
    ('84594e3ffffffff', '843e823ffffffff', CAST(150.0 AS DOUBLE), CAST(15 AS INT), CAST(417798502 AS BIGINT), CAST(16 AS INT)),
    ('84594e3ffffffff', '843e8e5ffffffff', CAST(190.0 AS DOUBLE), CAST(19 AS INT), CAST(529911502 AS BIGINT), CAST(20 AS INT)),
    ('845943dffffffff', '843e823ffffffff', CAST(200.0 AS DOUBLE), CAST(20 AS INT), CAST(555057347 AS BIGINT), CAST(21 AS INT)),
    ('845943dffffffff', '843e8e5ffffffff', CAST(240.0 AS DOUBLE), CAST(24 AS INT), CAST(667170347 AS BIGINT), CAST(25 AS INT))
  ) AS t(origin_hex, destination_hex, cost, n_edges, length_m_e3, n_line_points)
  ORDER BY cost, origin_hex, destination_hex
"""


@register("golden_route_path_stats", oracle=_ROUTE_PATH_STATS_ORACLE)
def golden_route_path_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_route_path_stats' P8 chain pinned on the constant line
    graph of golden_isochrone_hist: many-to-many routes (2 origins x 2
    destinations, weight 10/edge) -> Path value objects in the
    deterministic (cost, origin, destination) order with exact cost,
    edge count, fixed-point boundary length, and the merged-linestring
    point count (path.rs:69-135,194-206)."""
    from h3ron_spark import graph as GR
    from h3ron_spark.graph import edge_graph_from_cell_pairs
    from h3ron_spark.h3core.regions import line_to_cells

    seq = line_to_cells([(20.0, 10.0), (20.0, 20.0)], 4)
    pairs = local_df(
        spark,
        [(a, b, 10.0) for a, b in zip(seq, seq[1:])],
        "origin long, destination long, weight double",
    )
    g = edge_graph_from_cell_pairs(pairs, bidirectional=False)
    sp = GR.shortest_path_many_to_many(
        g, [seq[0], seq[5]], [seq[20], seq[-1]]
    )
    return GR.order_paths(sp).select(
        F.lower(F.hex("origin")).alias("origin_hex"),
        F.lower(F.hex("destination")).alias("destination_hex"),
        F.round("cost", 4).alias("cost"),
        GR.path_edge_count("path_edges").alias("n_edges"),
        F.floor(GR.path_length_m("path_edges") * F.lit(1e3) + F.lit(0.5))
        .cast("long")
        .alias("length_m_e3"),
        F.size(F.split(GR.path_linestring_wkt("path_edges"), ",")).alias(
            "n_line_points"
        ),
    )


# ---------------------------------------------------------------------
# GPKG sink round-trip (VERDICT r7 #7): sources/gpkg.py was the last
# unit-tested-only non-SQL surface — this row gives the reference's
# GPKG vector sink parity item (h3ron-ndarray/examples/
# h3ify_r_tiff.rs:32-58, GDAL's GPKG driver) a driver-checked exact
# oracle. Unlike the other golden rows this one reads a REAL testdata
# table, so the oracle is plain SQL over `nation`, not a VALUES
# literal: the Spark side must recover the same values THROUGH the
# GeoPackage file (WKT -> GeoPackageBinary blob -> sqlite3 -> WKB
# parse), so any framing/encoding defect in the sink breaks the hash.
# ---------------------------------------------------------------------

_GPKG_ROUNDTRIP_ORACLE = """
  SELECT CAST(n_nationkey AS BIGINT)          AS nation_key,
         n_name                               AS name,
         CAST(2 * n_nationkey - 25 AS DOUBLE) AS x,
         CAST(n_nationkey - 12 AS DOUBLE)     AS y
  FROM nation
  ORDER BY nation_key
"""


@register("golden_gpkg_roundtrip", oracle=_GPKG_ROUNDTRIP_ORACLE)
def golden_gpkg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoPackage sink round-trip: project the 25-row `nation`
    dimension to deterministic POINT geometries (x = 2*key - 25,
    y = key - 12 — exact small integers, so the float64 round-trip is
    bit-exact), write one GPKG layer via the stdlib-sqlite3 writer,
    read it back, parse each feature's WKB point, and return
    (nation_key, name, x, y) FROM THE FILE. The oracle computes the
    same projection directly from `nation` — equality proves the
    sink's GeoPackageBinary framing, envelope, and WKB payload are
    lossless. Driver-side by design: a .gpkg is one SQLite file, the
    sanctioned summarized-layer export path (module docstring);
    25 rows is the shape this sink exists for."""
    import struct
    import tempfile

    from h3ron_spark.sources.gpkg import read_gpkg_layer, write_gpkg
    from h3ron_spark.testdata import load

    nat = load(spark, sf_dir, "nation")
    src = nat.select(
        F.col("n_nationkey").cast("long").alias("nation_key"),
        F.col("n_name").alias("name"),
        F.concat(
            F.lit("POINT("),
            (2 * F.col("n_nationkey") - 25).cast("double").cast("string"),
            F.lit(" "),
            (F.col("n_nationkey") - 12).cast("double").cast("string"),
            F.lit(")"),
        ).alias("wkt"),
    )
    with tempfile.TemporaryDirectory(
        prefix="h3ron_gpkg_", ignore_cleanup_errors=True
    ) as workdir:
        path = f"{workdir}/nations.gpkg"
        write_gpkg(src, path, "nations", wkt_col="wkt",
                   geometry_type="POINT")
        back = read_gpkg_layer(spark, path, "nations").collect()
    rows = []
    for r in back:
        wkb = r["geom_wkb"]
        # little-endian WKB point: byte0 = 1 (LE), uint32 type = 1,
        # then x, y as float64
        assert wkb[0] == 1 and struct.unpack("<I", wkb[1:5])[0] == 1
        x, y = struct.unpack("<dd", wkb[5:21])
        rows.append((int(r["nation_key"]), str(r["name"]), x, y))
    return local_df(
        spark,
        sorted(rows),
        "nation_key long, name string, x double, y double",
    ).orderBy("nation_key")
