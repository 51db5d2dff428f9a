"""Graph engine vs scalar oracles.

Reference test idioms: line graphs from traced linestrings
(h3edge.rs:280-299, within_weight_threshold.rs:117-133), micro-graph
single-edge routing (shortest_path.rs:428-464), exact isochrone cell
counts (within_weight_threshold.rs:136-184).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import h3ron_spark.h3core as h3c
from h3ron_spark import graph as GR
from h3ron_spark.h3core.regions import line_to_cells

RES = 6
LINE = [(37.0, -122.0), (37.4, -121.6)]


@pytest.fixture(scope="module")
def path_cells():
    return line_to_cells(LINE, RES)


@pytest.fixture(scope="module")
def line_edges(spark, path_cells):
    pairs = spark.createDataFrame(
        [(a, b, 1.0) for a, b in zip(path_cells, path_cells[1:])],
        "origin long, destination long, weight double",
    )
    return GR.edge_graph_from_cell_pairs(pairs, bidirectional=True).cache()


def test_graph_build_min_weight_rule(spark):
    a, b = h3c.latlng_to_cell(37.0, -122.0, RES), None
    b = h3c.grid_disk(h3c.latlng_to_cell(37.0, -122.0, RES), 1)[1]
    df = spark.createDataFrame(
        [(a, b, 5.0), (a, b, 2.0), (a, b, 9.0)],
        "origin long, destination long, weight double",
    )
    out = GR.edge_graph_from_cell_pairs(df).collect()
    assert len(out) == 1 and out[0].weight == 2.0
    assert out[0].edge == h3c.cells_to_directed_edge(a, b)


def test_graph_build_drops_non_neighbors(spark):
    a = h3c.latlng_to_cell(37.0, -122.0, RES)
    far = h3c.latlng_to_cell(38.5, -120.0, RES)
    df = spark.createDataFrame(
        [(a, far, 1.0)], "origin long, destination long, weight double"
    )
    assert GR.edge_graph_from_cell_pairs(df).count() == 0


def test_line_graph_shape(line_edges, path_cells):
    n = len(path_cells)
    assert line_edges.count() == 2 * (n - 1)  # bidirectional
    nodes = GR.graph_nodes(line_edges)
    assert nodes.count() == n
    # every interior node is origin+destination (type 3)
    assert (
        nodes.filter(F.col("node_type") == GR.build.NODE_ORIGIN_AND_DESTINATION)
        .count()
        == n
    )


def test_graph_from_linestrings(spark, line_edges, path_cells):
    coords = [[{"lat": la, "lng": ln} for la, ln in LINE]]
    df = spark.createDataFrame(
        [(c,) for c in coords],
        "coords array<struct<lat: double, lng: double>>",
    )
    g = GR.graph_from_linestrings(df, RES)
    got = {(r.origin, r.destination, r.weight) for r in g.collect()}
    want = {(r.origin, r.destination, r.weight) for r in line_edges.collect()}
    assert got == want


def test_downsample_graph(line_edges):
    down = GR.downsample_graph(line_edges, RES - 2)
    rows = down.collect()
    assert rows
    from h3ron_spark.functions import bits  # bit-level res check

    for r in rows:
        assert h3c.get_resolution(r.origin) == RES - 2
        assert h3c.get_resolution(r.destination) == RES - 2
        assert h3c.are_neighbor_cells(r.origin, r.destination)
        assert r.weight == 1.0  # min over unit weights


def test_shortest_path_line(line_edges, path_cells):
    src, dst = path_cells[0], path_cells[-1]
    out = GR.shortest_path_many_to_many(line_edges, [src], [dst]).collect()
    assert len(out) == 1
    r = out[0]
    # along a unit-weight line, cost = hop count
    assert r.cost == float(len(path_cells) - 1)
    assert r.path_cells[0] == src and r.path_cells[-1] == dst
    assert len(r.path_cells) == len(path_cells)
    assert len(r.path_edges) == len(path_cells) - 1
    for e, (a, b) in zip(
        r.path_edges, zip(r.path_cells, r.path_cells[1:])
    ):
        assert e == h3c.cells_to_directed_edge(a, b)


def test_shortest_path_many_to_many_ordering(line_edges, path_cells):
    srcs = [path_cells[0], path_cells[2]]
    dsts = [path_cells[-1], path_cells[5]]
    out = GR.shortest_path_many_to_many(line_edges, srcs, dsts).collect()
    assert len(out) == 4
    costs = [r.cost for r in out]
    assert costs == sorted(costs)  # deterministic (cost, o, d) order


def test_shortest_path_substitution(line_edges, path_cells):
    # an origin 1 step off the line routes after substitution
    off = next(
        c
        for c in h3c.grid_disk(path_cells[3], 1)
        if c not in set(path_cells)
    )
    none = GR.shortest_path_many_to_many(line_edges, [off], [path_cells[-1]])
    assert none.count() == 0
    subbed = GR.shortest_path_many_to_many(
        line_edges, [off], [path_cells[-1]], max_distance_to_graph=1
    ).collect()
    assert len(subbed) == 1
    assert subbed[0].origin == off  # reports the original cell


def test_num_destinations_early_exit(line_edges, path_cells):
    out = GR.shortest_path_many_to_many(
        line_edges,
        [path_cells[4]],
        [path_cells[0], path_cells[-1]],
        num_destinations_to_reach=1,
    ).collect()
    assert len(out) == 1
    # the nearer end is reached first
    d_near = min(4, len(path_cells) - 1 - 4)
    assert out[0].cost == float(d_near)


def test_within_weight_threshold_line(line_edges, path_cells):
    src = path_cells[4]
    out = GR.within_weight_threshold(line_edges, [src], 3.0).collect()
    got = {r.cell: r.weight for r in out}
    # line graph: cells within 3 hops either direction
    want = {
        c: float(abs(i - 4))
        for i, c in enumerate(path_cells)
        if abs(i - 4) <= 3
    }
    assert got == want


def test_within_weight_threshold_many_min(line_edges, path_cells):
    out = GR.within_weight_threshold(
        line_edges, [path_cells[0], path_cells[-1]], 2.0, aggregate="min"
    ).collect()
    got = {r.cell: r.weight for r in out}
    n = len(path_cells)
    want = {}
    for i, c in enumerate(path_cells):
        d = min(i, n - 1 - i)
        if d <= 2.0:
            want[c] = float(d)
    assert got == want


def test_differential_shortest_path(line_edges, path_cells):
    cut = path_cells[len(path_cells) // 2]
    out = GR.differential_shortest_path(
        line_edges, [path_cells[0]], [path_cells[-1]], [cut]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.cost_before == float(len(path_cells) - 1)
    assert r.cost_after is None  # line is severed


def test_nearest_graph_nodes(spark, line_edges, path_cells):
    nodes = GR.graph_nodes(line_edges)
    off = next(
        c for c in h3c.grid_disk(path_cells[3], 2)
        if c not in set(path_cells) and h3c.grid_distance(c, path_cells[3]) == 2
    )
    df = spark.createDataFrame([(off,)], "cell long")
    out = GR.nearest_graph_nodes(df, nodes, 3).collect()
    assert out
    ks = {r.k for r in out}
    assert len(ks) == 1  # all at the smallest k
    kmin = ks.pop()
    assert kmin == min(
        h3c.grid_distance(off, p) for p in path_cells
    )


def test_sssp_frontier_matches_dijkstra(line_edges, path_cells):
    src = path_cells[0]
    broad = GR.within_weight_threshold(line_edges, [src], 6.0).collect()
    front = GR.sssp_frontier(line_edges, [src], threshold=6.0).collect()
    got_b = {(r.cell, r.weight) for r in broad}
    got_f = {(r.cell, r.weight) for r in front}
    assert got_f == got_b


def test_path_value_object_helpers(line_edges, path_cells):
    """P8 DirectedEdgePath helpers over the routed edge sequence
    (path.rs:69-135)."""
    src, dst = path_cells[0], path_cells[-1]
    sp = GR.shortest_path_many_to_many(line_edges, [src], [dst])
    out = sp.select(
        "origin",
        "destination",
        "cost",
        GR.path_edge_count("path_edges").alias("n_edges"),
        GR.path_is_empty("path_edges").alias("empty"),
        GR.path_cells_col("path_edges").alias("cells2"),
        GR.path_linestring_wkt("path_edges").alias("wkt"),
        GR.path_length_m("path_edges").alias("len_m"),
        "path_cells",
    ).collect()[0]
    assert out.n_edges == len(path_cells) - 1 and not out.empty
    # cells() reconstruction from edges matches the assembled cells
    assert out.cells2 == out.path_cells
    # merged centroid linestring: one point per traversed cell
    assert out.wkt.startswith("LINESTRING (")
    assert out.wkt.count(",") == len(path_cells) - 1
    # exact length: sum of per-edge boundary-segment lengths
    want = sum(
        h3c.edge_length_m(h3c.cells_to_directed_edge(a, b))
        for a, b in zip(path_cells, path_cells[1:])
    )
    assert abs(out.len_m - want) < 1e-6 and out.len_m > 0


def test_path_helpers_empty_and_segmented(spark):
    a = h3c.latlng_to_cell(37.0, -122.0, RES)
    nb = h3c.grid_disk(a, 1)[1:3]
    e1 = h3c.cells_to_directed_edge(a, nb[0])
    # a second edge NOT starting at nb[0] -> segmented sequence
    far = h3c.grid_disk(a, 3)[-1]
    e2 = h3c.cells_to_directed_edge(far, h3c.grid_disk(far, 1)[1])
    df = spark.createDataFrame(
        [([], "empty"), ([e1], "one"), ([e1, e2], "segmented")],
        "path_edges array<long>, tag string",
    )
    rows = {
        r.tag: r
        for r in df.select(
            "tag",
            GR.path_is_empty("path_edges").alias("empty"),
            GR.path_linestring_wkt("path_edges").alias("wkt"),
            GR.path_length_m("path_edges").alias("len_m"),
        ).collect()
    }
    assert rows["empty"].empty and rows["empty"].wkt is None
    assert rows["empty"].len_m == 0.0
    assert not rows["one"].empty and rows["one"].wkt.count(",") == 1
    # segmented sequences yield NULL where the reference errors
    assert rows["segmented"].wkt is None


def test_save_load_graph_roundtrip(spark, tmp_path):
    """P14: graph persistence as Parquet (serde_util.rs:29-60 parity:
    a persisted+reloaded graph is edge-for-edge identical)."""
    a = h3c.latlng_to_cell(10.0, 20.0, RES)
    nb = h3c.grid_disk(a, 1)
    pairs = spark.createDataFrame(
        [(a, nb[1], 1.0), (nb[1], nb[2], 2.0), (a, nb[1], 0.5)],
        "origin long, destination long, w double",
    )
    g = GR.edge_graph_from_cell_pairs(
        pairs, "origin", "destination", "w", bidirectional=False
    )
    path = str(tmp_path / "graph.parquet")
    GR.save_graph(g, path, partitions=2)
    g2 = GR.load_graph(spark, path)
    got = sorted((r.origin, r.destination, r.weight) for r in g2.collect())
    exp = sorted((r.origin, r.destination, r.weight) for r in g.collect())
    assert got == exp
    # min-weight duplicate rule survived the roundtrip
    assert [w for o, d, w in got if (o, d) == (a, nb[1])] == [0.5]


def test_sssp_frontier_torus_nonuniform_weights(spark):
    """Frontier SSSP == broadcast Dijkstra on a torus grid with
    position-dependent weights (the subsampled stand-in for the
    5.76M-edge bench graph, graph/synthetic.py): identical reached
    sets AND costs from two origins."""
    from h3ron_spark.graph import algorithms as GR
    from h3ron_spark.graph.synthetic import torus_grid_graph

    def w(x, y, dx, dy):
        return 1.0 + ((x * 7 + y * 13 + (dx + 1) * 3 + (dy + 1)) % 5) / 4.0

    edges = torus_grid_graph(spark, 20, directions=4, weight_expr=w)
    origins = [0, 7 * 20 + 11]
    broad = GR.within_weight_threshold(edges, origins, 5.0).collect()
    front = GR.sssp_frontier(edges, origins, threshold=5.0).collect()
    got_b = {(r.origin, r.cell, round(r.weight, 9)) for r in broad}
    got_f = {(r.origin, r.cell, round(r.weight, 9)) for r in front}
    assert got_f == got_b
    assert len({o for o, _c, _w in got_f}) == 2


def test_sssp_frontier_join_fallback_matches_broadcast(spark, monkeypatch):
    """The fallback when the frontier outgrows broadcast (by-bucket
    cogroup join of the frontier against the cached edge layout) must
    produce the same labels as the default broadcast-join seeding and
    as broadcast Dijkstra."""
    from h3ron_spark.graph import algorithms as GR
    from h3ron_spark.graph.synthetic import torus_grid_graph

    def w(x, y, dx, dy):
        return 1.0 + ((x * 3 + y * 5 + dx + dy) % 3) / 2.0

    edges = torus_grid_graph(spark, 12, directions=4, weight_expr=w)
    a = GR.sssp_frontier(edges, [0, 17], threshold=4.0).collect()
    monkeypatch.setattr(GR, "_MAX_BROADCAST_FRONTIER", 0)
    b = GR.sssp_frontier(edges, [0, 17], threshold=4.0).collect()
    c = GR.within_weight_threshold(edges, [0, 17], 4.0).collect()
    sa = {(r["origin"], r["cell"], round(r["weight"], 9)) for r in a}
    sb = {(r["origin"], r["cell"], round(r["weight"], 9)) for r in b}
    sc = {(r["origin"], r["cell"], round(r["weight"], 9)) for r in c}
    assert sa == sb == sc and len(sa) > 10


def test_sssp_frontier_distributed_paths_match(spark, monkeypatch):
    """Pin the beyond-broadcast code paths: force the frontier-cogroup
    kernel (frontier 'too big' for the torrent-broadcast join) and the
    semi-join scan prune ('too many' active tiles for isin), and
    require bit-identical labels vs the default fast path."""
    from h3ron_spark.graph import algorithms as GR
    from h3ron_spark.graph.synthetic import torus_grid_graph

    def w(x, y, dx, dy):
        return 1.0 + ((x * 5 + y * 11 + (dx + 1) * 2 + (dy + 1)) % 4) / 3.0

    edges = torus_grid_graph(spark, 16, directions=4, weight_expr=w)
    origins = [0, 5 * 16 + 3]

    def flood():
        return {
            (r.origin, r.cell, round(r.weight, 9))
            for r in GR.sssp_frontier(
                edges, origins, threshold=4.0
            ).collect()
        }

    expected = flood()
    assert expected
    monkeypatch.setattr(GR, "_MAX_BROADCAST_FRONTIER", 0)
    assert flood() == expected  # cogroup kernel path
    monkeypatch.setattr(GR, "_MAX_ISIN_TILES", 0)
    assert flood() == expected  # cogroup + semi-join prune
    monkeypatch.setattr(GR, "_MAX_BROADCAST_FRONTIER", 2_000_000)
    assert flood() == expected  # broadcast join + semi-join prune


def test_sssp_frontier_h3_scale_ids_exact(spark):
    """Regression (r3 review): the broadcast-join seeding path must
    carry origin ids above 2^53 exactly — a nullable long reaching
    pandas as float64 silently rounds real H3 cell ids. Flood a chain
    graph whose node ids are actual res-9 cell values."""
    from pyspark.sql import functions as F

    from h3ron_spark.graph import algorithms as GR

    base = 0x89283080DDBFFFF  # canonical res-9 cell, > 2^59
    nodes = [base + 16 * i for i in range(6)]  # distinct odd longs
    edges = spark.createDataFrame(
        [(a, b, 1.5) for a, b in zip(nodes, nodes[1:])],
        "origin long, destination long, weight double",
    )
    out = GR.sssp_frontier(edges, [nodes[0]], threshold=10.0).collect()
    got = {(r.origin, r.cell): r.weight for r in out}
    assert set(got) == {(nodes[0], n) for n in nodes}
    for i, n in enumerate(nodes):
        assert got[(nodes[0], n)] == 1.5 * i


def test_sssp_prepared_conflicting_tile_expr_raises(spark):
    """ADVICE r2: a prepared frame carrying its tile function must
    reject a DIFFERENT tile_expr instead of silently pruning under
    mismatched tile ids."""
    import pytest as _pytest

    from h3ron_spark.graph import algorithms as GR
    from h3ron_spark.graph.synthetic import torus_grid_graph

    edges = torus_grid_graph(spark, 8, directions=4)

    def tile_a(o):
        return (o / 8).cast("long")

    def tile_b(o):
        return (o % 8).cast("long")

    prepared = GR.prepare_sssp_edges(edges, tile_a)
    with _pytest.raises(ValueError, match="conflicting tile_expr"):
        GR.sssp_frontier(prepared, [0], threshold=2.0, tile_expr=tile_b)
    # the identical function object is allowed
    out = GR.sssp_frontier(prepared, [0], threshold=2.0, tile_expr=tile_a)
    assert out.count() > 0

    # ADVICE r3: a REBUILT function producing the identical expression
    # (fresh lambda, e.g. after pickling) is also allowed
    def tile_a_rebuilt(o):
        return (o / 8).cast("long")

    out2 = GR.sssp_frontier(
        prepared, [0], threshold=2.0, tile_expr=tile_a_rebuilt
    )
    assert out2.count() == out.count()


def test_graph_sssp_frontier_query_histogram(spark):
    """Registry query at the sf0.001 grid: ring sizes are the
    closed-form 1, 4d for d=1..8 (the DuckDB oracle) — exactness of
    the iterative flood on the torus."""
    from h3ron_spark.queries_h3 import graph_sssp_frontier

    rows = graph_sssp_frontier(spark, "/root/testdata/sf0.001").collect()
    assert [(r["weight"], r["n_cells"]) for r in rows] == [(0, 1)] + [
        (d, 4 * d) for d in range(1, 9)
    ]


def test_sssp_frontier_parent_forest_backtracks_exactly(spark):
    """track_parents=True: every label's parent chain must walk back
    to the origin with edge weights summing exactly to the label
    weight (the distributed predecessor forest is a valid shortest-
    path tree)."""
    from pyspark.sql import functions as F

    from h3ron_spark.graph.synthetic import torus_grid_graph

    def w(x, y, dx, dy):
        return 1.0 + ((x * 7 + y * 13 + (dx + 1) * 3 + (dy + 1)) % 5) / 4.0

    edges = torus_grid_graph(spark, 20, directions=4, weight_expr=w)
    dist = GR.sssp_frontier(
        edges, [0], threshold=5.0, track_parents=True
    ).collect()
    ew = {
        (r["origin"], r["destination"]): r["weight"]
        for r in edges.collect()
    }
    lab = {r["cell"]: (r["weight"], r["parent"]) for r in dist}
    assert lab[0] == (0.0, None)
    assert len(lab) > 20
    for cell, (weight, parent) in lab.items():
        if cell == 0:
            continue
        # parent exists, is labelled, and the edge step is exact
        assert parent in lab
        pw = lab[parent][0]
        assert abs(pw + ew[(parent, cell)] - weight) < 1e-9
    # parity with the untracked flood
    plain = GR.sssp_frontier(edges, [0], threshold=5.0).collect()
    assert {(r["cell"], r["weight"]) for r in plain} == {
        (c, w_) for c, (w_, _p) in lab.items()
    }


def test_backtrack_paths_from_parent_forest(spark):
    """backtrack_paths reconstructs explicit origin->destination cell
    chains from the track_parents forest whose edge-weight sums equal
    the converged labels exactly."""
    from h3ron_spark.graph.algorithms import backtrack_paths
    from h3ron_spark.graph.synthetic import torus_grid_graph

    def w(x, y, dx, dy):
        return 1.0 + ((x * 7 + y * 13 + (dx + 1) * 3 + (dy + 1)) % 5) / 4.0

    edges = torus_grid_graph(spark, 20, directions=4, weight_expr=w)
    dist = GR.sssp_frontier(edges, [0], threshold=5.0, track_parents=True)
    lab = {r["cell"]: r["weight"] for r in dist.collect()}
    dests = sorted(c for c in lab if c != 0)[:3]
    paths = backtrack_paths(dist, dests)
    ew = {
        (r["origin"], r["destination"]): r["weight"]
        for r in edges.collect()
    }
    assert set(paths) == {(0, d) for d in dests}
    for (o, d), cells in paths.items():
        assert cells[0] == o and cells[-1] == d
        total = sum(ew[(a, b)] for a, b in zip(cells, cells[1:]))
        assert abs(total - lab[d]) < 1e-9


def test_sssp_prepared_frame_without_tile_fn_stays_correct(spark):
    """A prepared frame that lost its Python-side tile function (any
    transformation drops the attribute) must disable pruning, not
    prune with a mismatched default hash (regression: returned only
    the origin labels)."""
    from pyspark.sql import functions as F

    from h3ron_spark.graph.algorithms import (
        prepare_sssp_edges,
        sssp_frontier,
    )
    from h3ron_spark.graph.synthetic import torus_grid_graph

    n = 12

    def tile(o):
        return ((o / n).cast("long") / 3).cast("long") * 4 + (
            (o % n) / 3
        ).cast("long")

    edges = torus_grid_graph(spark, n, directions=4)
    prepared = prepare_sssp_edges(edges, tile)
    expected = {
        (r["cell"], r["weight"])
        for r in sssp_frontier(prepared, [0], threshold=3.0).collect()
    }
    assert len(expected) == 25  # 1 + 4 + 8 + 12
    stripped = prepared.filter(F.lit(True))  # drops _sssp_tile_fn
    got = {
        (r["cell"], r["weight"])
        for r in sssp_frontier(stripped, [0], threshold=3.0).collect()
    }
    assert got == expected


def test_sssp_frontier_random_graph_parity(spark):
    """Property check over randomized graphs: sssp_frontier labels ==
    a driver-side reference Dijkstra, and backtracked paths sum to the
    labels exactly — on H3-scale node ids, random fan-out, random
    weights, several seeds (deterministic PRNG, no test-time flake)."""
    import heapq
    import random

    from h3ron_spark.graph import algorithms as GR

    base = 0x0890000000000000  # H3-magnitude (>2^53), bit 63 clear
    for seed in (1, 7, 23):
        rng = random.Random(seed)
        n = rng.randint(8, 24)
        nodes = [base + 8 * i for i in range(n)]
        edges = []
        for u in nodes:
            for v in rng.sample(nodes, rng.randint(1, 4)):
                if v != u:
                    edges.append((u, v, round(rng.uniform(0.5, 3.0), 3)))
        # reference: plain driver Dijkstra per origin with threshold
        def ref(origin, thr):
            adj = {}
            for u, v, w in edges:
                adj.setdefault(u, []).append((v, w))
            dist = {origin: 0.0}
            h = [(0.0, origin)]
            done = set()
            while h:
                d, u = heapq.heappop(h)
                if u in done:
                    continue
                done.add(u)
                for v, w in adj.get(u, []):
                    nd = d + w
                    if nd <= thr and nd < dist.get(v, float("inf")):
                        dist[v] = nd
                        heapq.heappush(h, (nd, v))
            return dist

        thr = rng.uniform(2.0, 6.0)
        origins = rng.sample(nodes, 2)
        df = spark.createDataFrame(
            edges, "origin long, destination long, weight double"
        )
        out = GR.sssp_frontier(
            df, origins, threshold=thr, track_parents=True
        )
        rows = out.collect()
        got = {(r.origin, r.cell): r.weight for r in rows}
        want = {
            (o, c): w for o in origins for c, w in ref(o, thr).items()
        }
        assert set(got) == set(want), f"seed {seed}: reached sets differ"
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, f"seed {seed}: {k}"
        # backtrack three destinations per origin; path sums == labels
        ew = {(u, v): w for u, v, w in edges}
        dests = sorted({c for (_o, c) in want if c not in origins})[:3]
        if dests:
            paths = GR.backtrack_paths(out, dests)
            for (o, d), cells in paths.items():
                assert cells[0] == o and cells[-1] == d
                total = sum(
                    ew[(a, b)] for a, b in zip(cells, cells[1:])
                )
                assert abs(total - want[(o, d)]) < 1e-9


# ------------------------------------------------------------------
# LongEdge chain contraction (prepared.rs:260-402)
# ------------------------------------------------------------------


def test_longedge_contraction_on_line(spark, line_edges, path_cells):
    """A bidirectional line contracts to exactly two shortcuts (one
    per direction), each spanning every edge of its direction with
    the summed weight; interior edges are preserved alongside."""
    from h3ron_spark.graph.algorithms import prepare_routing_graph

    n = len(path_cells)
    plain = prepare_routing_graph(line_edges)
    contracted = prepare_routing_graph(line_edges, contract=True)
    assert plain.value[7] is None
    le_map, longedges = contracted.value[7]
    assert len(longedges) == 2
    for cells, eids, end, acc, cset in longedges:
        assert len(eids) == n - 1
        assert len(cells) == n
        assert set(cells) == set(path_cells) == set(cset)
        assert end == cells[-1]
        assert acc == float(n - 1)  # unit weights, full span
    # the CSR itself is untouched (longedges REPLACE the chain-start
    # edge only at relaxation time); exactly two slots are mapped
    assert len(contracted.value[3]) == len(plain.value[3])
    assert int((le_map >= 0).sum()) == 2


def test_longedge_routes_match_uncontracted(spark, line_edges, path_cells):
    """Routing through the contracted graph returns the SAME rows —
    costs and the fully expanded cell/edge paths — as the
    uncontracted graph, including endpoints interior to a chain."""
    from h3ron_spark.graph.algorithms import (
        prepare_routing_graph,
        shortest_path_many_to_many,
    )

    origins = [path_cells[0], path_cells[3]]
    dests = [path_cells[-1], path_cells[5]]
    plain = shortest_path_many_to_many(
        line_edges, origins, dests,
        prepared=prepare_routing_graph(line_edges),
    ).collect()
    fast = shortest_path_many_to_many(
        line_edges, origins, dests,
        prepared=prepare_routing_graph(line_edges, contract=True),
    ).collect()
    key = lambda r: (r.origin, r.destination)  # noqa: E731
    p = {key(r): (r.cost, list(r.path_cells), list(r.path_edges)) for r in plain}
    f = {key(r): (r.cost, list(r.path_cells), list(r.path_edges)) for r in fast}
    assert set(p) == set(f) and len(p) == 4
    for k in p:
        assert p[k][1] == f[k][1], k  # identical expanded cell path
        assert p[k][2] == f[k][2], k  # identical edge ids
        assert abs(p[k][0] - f[k][0]) <= 1e-9 * max(1.0, abs(p[k][0]))


def test_longedge_junction_stops_chain(spark):
    """Chains must stop at junctions: a T-shaped graph (stem joining
    the middle of a bar) contracts each arm separately and never
    builds a shortcut across the junction."""
    import h3ron_spark.h3core as h3c
    from h3ron_spark.graph import build as GRB
    from h3ron_spark.graph.algorithms import prepare_routing_graph
    from h3ron_spark.h3core.regions import line_to_cells

    bar = line_to_cells([(-122.0, 37.0), (-121.90, 37.0)], 8)
    mid = bar[len(bar) // 2]
    lat, lng = h3c.cell_to_latlng(mid)
    stem = line_to_cells([(lng, lat), (lng + 0.05, lat + 0.06)], 8)
    pairs = [(a, b, 1.0) for a, b in zip(bar, bar[1:])]
    pairs += [(a, b, 1.0) for a, b in zip(stem, stem[1:])]
    df = spark.createDataFrame(
        pairs, "origin long, destination long, weight double"
    )
    edges = GRB.edge_graph_from_cell_pairs(df, bidirectional=True)
    prepared = prepare_routing_graph(edges, contract=True)
    junction = stem[0]
    _, longedges = prepared.value[7]
    assert longedges  # the arms did contract
    for cells, *_rest in longedges:
        interior = cells[1:-1]
        assert junction not in interior, "chain crossed a junction"


def test_longedge_corridor_grid_skips_interiors():
    """The reason contraction exists: on a chain-heavy topology (40x40
    junction grid joined by 25-edge corridors, 156k edges) the
    contracted Dijkstra settles >10x fewer nodes with identical cost,
    because destination-disjoint corridors relax as single jumps
    (dijkstra.rs:186-204). The Germany r7 graph is NOT chain-heavy
    (mean chain 3.3) so gains there are neutral — this is the topology
    where the reference's device pays."""
    import numpy as np

    from h3ron_spark.graph.algorithms import (
        _contract_chains,
        _csr_from_arrays,
        _dijkstra_csr,
    )

    J, CH = 12, 25
    nid = lambda r, c: (r * J + c) * 1000  # noqa: E731
    u, v, w = [], [], []

    def corridor(a, b, salt):
        prev = a
        for k in range(1, CH):
            mid = a + salt * 10_000_000 + k
            u.extend((prev, mid))
            v.extend((mid, prev))
            w.extend((1.0, 1.0))
            prev = mid
        u.extend((prev, b))
        v.extend((b, prev))
        w.extend((1.0, 1.0))

    s = 1
    for r in range(J):
        for c in range(J):
            if c + 1 < J:
                corridor(nid(r, c), nid(r, c + 1), s)
                s += 1
            if r + 1 < J:
                corridor(nid(r, c), nid(r + 1, c), s)
                s += 1
    csr = _csr_from_arrays(
        np.array(u, np.int64),
        np.array(v, np.int64),
        np.arange(len(u), dtype=np.int64),
        np.array(w, np.float64),
    )
    contraction = _contract_chains(*csr[:6])
    src, dst = nid(0, 0), nid(J - 1, J - 1)
    d_p, p_p, done_p, _ = _dijkstra_csr(
        csr + (None,), src, dests={dst}, num_dests=1
    )
    d_c, p_c, done_c, _ = _dijkstra_csr(
        csr + (contraction,), src, dests={dst}, num_dests=1
    )
    assert d_p[dst] == d_c[dst] == float(2 * (J - 1) * CH)
    assert len(done_c) < len(done_p) / 10
    # expanded paths identical
    from h3ron_spark.graph.algorithms import _assemble_path

    cells_p, edges_p = _assemble_path(p_p, src, dst)
    cells_c, edges_c = _assemble_path(
        p_c, src, dst, longedges=contraction[1]
    )
    assert cells_p == cells_c and edges_p == edges_c


def test_pagerank_matches_independent_reference(spark):
    """Integer fixed-point PageRank vs an independent plain-dict
    reimplementation of the same arithmetic on a hand-built 4-node
    digraph (with a dangling node: D has no out-edges)."""
    from h3ron_spark.graph.pagerank import pagerank

    rows = [  # (src, dst, w)
        (1, 2, 3), (1, 3, 1), (2, 3, 1), (3, 1, 1), (3, 4, 1),
    ]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {
        r["node"]: r["pr"]
        for r in pagerank(edges, iterations=5, scale=10**12).collect()
    }

    # independent reimplementation: dicts, no Spark
    scale = 10**12
    nodes = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    n = len(nodes)
    wsum = {}
    for s, _, w in rows:
        wsum[s] = wsum.get(s, 0) + w
    tele = (scale * 15 // 100) // n
    pr = {v: scale // n for v in nodes}
    for _ in range(5):
        s_in = {v: 0 for v in nodes}
        for s, d, w in rows:
            s_in[d] += (pr[s] * w) // wsum[s]
        pr = {v: tele + (85 * s_in[v]) // 100 for v in nodes}
    assert got == pr


def test_pagerank_mass_and_determinism(spark):
    """Total rank mass is bounded by the scale (floor rounding +
    dangling drop only lose mass, teleport restores its share), and a
    re-run over a different partitioning is bit-identical."""
    from h3ron_spark.graph.pagerank import pagerank

    rows = [(i, (i * 3 + 1) % 7, 1 + i % 3) for i in range(7)]
    edges = spark.createDataFrame(
        [r for r in rows if r[0] != r[1]], "src long, dst long, w long"
    )
    a = {r["node"]: r["pr"] for r in pagerank(edges, iterations=4).collect()}
    b = {
        r["node"]: r["pr"]
        for r in pagerank(edges.repartition(13), iterations=4).collect()
    }
    assert a == b
    assert 0 < sum(a.values()) <= 10**12


def test_triangle_counts_known_graph(spark):
    """Degree-orientation triangle count vs a brute-force O(n^3)
    check on a hand-built graph: K4 plus a pendant edge (K4 has 4
    triangles; every K4 node is in exactly 3)."""
    from itertools import combinations

    from h3ron_spark.graph.motifs import triangle_counts, undirected_edges

    pairs = list(combinations([1, 2, 3, 4], 2)) + [(4, 5)]
    # feed duplicates + reversed + self-loop to exercise canonicalization
    rows = pairs + [(b, a) for a, b in pairs] + [(3, 3)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(undirected_edges(edges)).collect()
    }

    es = {tuple(sorted(p)) for p in pairs}
    nodes = sorted({x for p in es for x in p})
    expect = {}
    for t in combinations(nodes, 3):
        if all(tuple(sorted(e)) in es for e in combinations(t, 2)):
            for v in t:
                expect[v] = expect.get(v, 0) + 1
    assert got == expect == {1: 3, 2: 3, 3: 3, 4: 3}


@pytest.mark.parametrize("seed", [3, 17, 91])
def test_pagerank_random_graphs_match_reference(spark, seed):
    """Randomized digraphs (seeded): Spark integer PageRank equals the
    plain-dict reimplementation exactly — the determinism claim is
    'bit-identical on ANY graph', not just the fixture."""
    import random

    from h3ron_spark.graph.pagerank import pagerank

    rng = random.Random(seed)
    n = rng.randint(5, 30)
    rows = sorted(
        {
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(n, 4 * n))
        }
    )
    rows = [(s, d, 1 + (s + d) % 4) for s, d in rows if s != d]
    if not rows:
        return
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {
        r["node"]: r["pr"] for r in pagerank(edges, iterations=4).collect()
    }

    scale = 10**12
    nodes = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    wsum = {}
    for s, _, w in rows:
        wsum[s] = wsum.get(s, 0) + w
    tele = (scale * 15 // 100) // len(nodes)
    pr = {v: scale // len(nodes) for v in nodes}
    for _ in range(4):
        acc = {v: 0 for v in nodes}
        for s, d, w in rows:
            acc[d] += (pr[s] * w) // wsum[s]
        pr = {v: tele + (85 * acc[v]) // 100 for v in nodes}
    assert got == pr


@pytest.mark.parametrize("seed", [5, 23, 77])
def test_triangles_random_graphs_match_bruteforce(spark, seed):
    """Randomized undirected graphs (seeded): degree-orientation
    triangle participation equals O(n^3) brute force."""
    import random
    from itertools import combinations

    from h3ron_spark.graph.motifs import triangle_counts, undirected_edges

    rng = random.Random(seed)
    n = rng.randint(6, 18)
    es = {
        tuple(sorted((rng.randrange(n), rng.randrange(n))))
        for _ in range(rng.randint(2 * n, 5 * n))
    }
    es = {(a, b) for a, b in es if a != b}
    if not es:
        return
    edges = spark.createDataFrame(sorted(es), "src long, dst long")
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(undirected_edges(edges)).collect()
    }
    expect = {}
    for t in combinations(sorted({x for e in es for x in e}), 3):
        if all(tuple(sorted(p)) in es for p in combinations(t, 2)):
            for v in t:
                expect[v] = expect.get(v, 0) + 1
    assert got == expect


def test_pagerank_rejects_bad_iterations_and_empty_graph(spark):
    from h3ron_spark.graph.pagerank import pagerank

    edges = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    with pytest.raises(ValueError):
        pagerank(edges, iterations=0)
    empty = spark.createDataFrame([], "src long, dst long, w long")
    assert pagerank(empty, iterations=3).count() == 0


def test_map_match_viterbi_beats_pointwise_snap(spark, path_cells):
    """graph/mapmatch.py: (a) exact points on the path match
    themselves; (b) a noisy middle point whose NEAREST node is an
    off-path spur still matches the path cell, because Viterbi trades
    snap cost against the transition detour (the HMM point); (c) the
    result equals an independent brute-force joint minimization."""
    from itertools import product

    import h3ron_spark.h3core as h3c
    from h3ron_spark.graph.mapmatch import map_match, match_candidates

    # graph nodes: the traced line + a spur hanging off the middle —
    # positioned so routing THROUGH it is a real detour (>= 4 from
    # both trace anchors) while still being the nearest node to the
    # noisy observation
    mid = path_cells[5]
    spur, noisy = next(
        (s, n)
        for s in h3c.grid_disk(mid, 3)
        if s not in set(path_cells)
        and h3c.grid_distance(s, mid) == 3
        and h3c.grid_distance(s, path_cells[3]) >= 4
        and h3c.grid_distance(s, path_cells[7]) >= 4
        for n in h3c.grid_disk(s, 1)
        if n not in set(path_cells)
        and h3c.grid_distance(n, mid) == 2
        and h3c.grid_distance(n, s) == 1
    )
    nodes = spark.createDataFrame(
        [(c,) for c in path_cells] + [(spur,)], "cell long"
    )
    obs = [path_cells[1], path_cells[3], noisy, path_cells[7], path_cells[9]]
    pts = spark.createDataFrame(
        [("t1", i, c) for i, c in enumerate(obs)], "trace string, seq int, cell long"
    )
    got = {
        r["seq"]: (r["matched_cell"], r["total_cost"])
        for r in map_match(pts, nodes, max_k=2).collect()
    }
    assert len(got) == 5

    # independent brute force over the same candidate sets
    cand_rows = match_candidates(pts, nodes, 2).collect()
    cands = {}
    for r in cand_rows:
        cands.setdefault(r["seq"], []).append((r["cand"], r["snap_k"]))
    best_cost, best_pick = None, None
    seqs = sorted(cands)
    for pick in product(*[range(len(cands[s])) for s in seqs]):
        cost = sum(float(cands[s][p][1]) for s, p in zip(seqs, pick))
        ok = True
        for (s1, p1), (s2, p2) in zip(
            list(zip(seqs, pick)), list(zip(seqs, pick))[1:]
        ):
            d = h3c.grid_distance(cands[s1][p1][0], cands[s2][p2][0])
            if d is None:
                ok = False
                break
            cost += float(d)
        if ok and (best_cost is None or cost < best_cost):
            best_cost, best_pick = cost, pick
    assert abs(got[0][1] - best_cost) < 1e-9
    for s, p in zip(seqs, best_pick):
        assert got[s][0] == cands[s][p][0]

    # exact points match themselves; the noisy point lands ON PATH
    for i in (0, 1, 3, 4):
        assert got[i][0] == obs[i]
    assert got[2][0] in set(path_cells)
    assert got[2][0] != spur  # pointwise nearest would have picked this


def test_sssp_prepared_layout_has_no_empty_partitions(spark):
    """ADVICE r7: with _bucket = pmod(hash(_tile), npart) the
    repartition's second hash left ~1/e of the edge partitions EMPTY
    (balls-in-bins at load factor 1 — reduced scan parallelism and
    cogroup skew). The 8x-oversampled _bucket domain (_BUCKET_OVERSAMPLE
    / _bucket_of) must spread tiles across essentially every partition:
    pin >= 90% non-empty and max/mean row skew under 3x on a graph with
    plenty of tiles."""
    from pyspark.sql import functions as F

    from h3ron_spark.graph import algorithms as A
    from h3ron_spark.graph.synthetic import torus_grid_graph

    def tile(o):
        return (o / 8).cast("long")  # 32x32 torus -> 128 tiles

    e = A.prepare_sssp_edges(torus_grid_graph(spark, 32), tile,
                             num_partitions=16)
    try:
        per_part = (
            e.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        counts = [r["count"] for r in per_part]
        npart = 16
        assert len(counts) >= int(0.9 * npart), (
            f"only {len(counts)}/{npart} partitions hold rows — the "
            "double-hash empty-partition regression is back"
        )
        mean = sum(counts) / len(counts)
        assert max(counts) <= 3 * mean, (counts, mean)
    finally:
        try:
            e.unpersist()
        except Exception:
            pass
