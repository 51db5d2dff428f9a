"""Routing algorithms over the edges table.

Parity targets:
- edge_dijkstra + early exit:      h3ron-graph/src/algorithm/dijkstra.rs:138-251
- weight-threshold flood:          dijkstra.rs:72-133
- ShortestPath[ManyToMany]:        algorithm/shortest_path.rs:118-204
  (origin/destination substitution :334-414)
- WithinWeightThreshold[Many]:     within_weight_threshold.rs:16-101
- DifferentialShortestPath:        differential_shortest_path.rs:32-139
  (ExcludeCells wrapper graph/modifiers.rs:11-95 -> anti-join)
- NearestGraphNodes:               nearest_graph_nodes.rs:7-67
- Path ordering:                   path.rs:194-206 (cost, origin, destination)

Execution model (SURVEY §3.3): the reference runs one Dijkstra per
origin on rayon threads against a shared in-memory adjacency. The
Spark shape is identical: the adjacency broadcasts to executors and
`mapInPandas` fans one Dijkstra per origin row across partitions.
LongEdge shortcuts (prepared.rs:260-402) are reproduced as an opt-in
(`prepare_routing_graph(contract=True)`): destination-disjoint chains
relax as one junction-to-junction jump with identical results
(prepared.rs:59-64), pinned vs the uncontracted path in tests.

For graphs beyond broadcast size, `sssp_frontier` is the scale path:
Pregel-style frontier relaxation where each iteration is one join +
min-agg on the co-partitioned edges table. Same results, no driver
materialization; O(longest-shortest-path-hops) iterations.

Prepared-frame contract: a frame returned by `prepare_sssp_edges`
carries `_sssp_tile_fn` / `_sssp_npart` as plain Python attributes —
a per-session FAST PATH only, never a lifecycle contract. Any frame
with the `(_tile, _bucket, _u, _v, _w)` column set is accepted by
`sssp_frontier` even when those attributes are gone (any
transformation, pickling or a rebuild in another process drops
them): the (cell -> tile/bucket) seeding map is then derived exactly
from the STORED `_tile`/`_bucket` columns. The attributes hold a pure
expression + an int with a lossless column fallback, so a handle
object would add API surface without removing any failure mode.
"""

from __future__ import annotations

import heapq
from math import inf

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from h3ron_spark.util import local_df

_BROADCAST_EDGE_LIMIT = 5_000_000
# sssp_frontier tuning knobs (module-level so tests can pin a path):
# beyond this many distinct active tiles an isin() literal stops
# paying for itself — switch to a broadcast semi-join prune
_MAX_ISIN_TILES = 10_000
# below this many frontier labels a round seeds the kernel with a
# torrent-broadcast JOIN of the frontier frame; above it, the cogroup
# path keeps the frontier fully distributed end to end
_MAX_BROADCAST_FRONTIER = 2_000_000


def _csr_from_arrays(u, v, e, w):
    """Sorted-origin CSR: (uniq_u, starts, ends, v, e, w, all_nodes)."""
    import numpy as np

    order = np.argsort(u, kind="stable")
    u, v, e, w = u[order], v[order], e[order], w[order]
    uniq, starts = np.unique(u, return_index=True)
    ends = np.append(starts[1:], len(u))
    all_nodes = np.union1d(uniq, np.unique(v))
    return (uniq, starts, ends, v, e, w, all_nodes)


def _in_sorted(arr, x) -> bool:
    import numpy as np

    j = int(np.searchsorted(arr, x))
    return j < len(arr) and int(arr[j]) == x


def _contract_chains(uniq, starts, ends, vv, ee, ww, min_len: int = 3):
    """LongEdge chain contraction over the SORTED CSR arrays (the
    reference's prepared.rs:260-402 to_longedge_edges /
    assemble_edge_with_longedge): an edge whose origin does NOT have
    exactly one upstream continuation (it starts a path — dead-end
    start or post-junction) is followed forward while each hop has
    exactly one continuing edge (excluding the immediate backward
    edge), stopping at junctions, dead ends, or cycles. Chains of
    >= ``min_len`` edges become a LongEdge the Dijkstra relaxes
    INSTEAD of the chain's first edge whenever the chain is disjoint
    from the destination set (dijkstra.rs:186-204) — interior chain
    nodes are then never enqueued at all, which is where the speedup
    on chain-heavy road graphs comes from.

    Returns (le_map, longedges): ``le_map[i]`` is the longedge index
    replacing sorted-CSR edge slot i (or -1), ``longedges`` entries
    are (cells, edge_ids, end_node, acc_weight, cell_set). Weight
    accumulates new+acc exactly like the reference's
    ``longedge_weight = w_following + longedge_weight``."""
    import numpy as np

    n = len(vv)
    u_sorted = np.repeat(uniq, (ends - starts).astype(np.int64))
    out_edges: dict = {}
    in_srcs: dict = {}
    for i in range(n):
        a, b = int(u_sorted[i]), int(vv[i])
        out_edges.setdefault(a, []).append((b, i))
        in_srcs.setdefault(b, set()).add(a)
    le_map = np.full(n, -1, np.int64)
    longedges: list = []
    for i in range(n):
        o, d = int(u_sorted[i]), int(vv[i])
        ups = len(in_srcs.get(o, set()) - {d})
        if ups == 1:
            continue  # mid-chain edge: covered by the chain that starts it
        path = [i]
        acc = float(ww[i])
        a, b = o, d
        while True:
            nexts = [
                (dest, j)
                for dest, j in out_edges.get(b, [])
                if dest != a  # exclude the immediate backward edge
            ]
            if len(nexts) != 1:
                break  # junction or dead end
            dest, j = nexts[0]
            if j in path:
                break  # cycle
            path.append(j)
            acc = float(ww[j]) + acc
            a, b = b, dest
        if len(path) >= min_len:
            cells = [int(u_sorted[path[0]])] + [int(vv[j]) for j in path]
            le_map[i] = len(longedges)
            longedges.append(
                (cells, [int(ee[j]) for j in path], b, acc, frozenset(cells))
            )
    return le_map, longedges


def prepare_routing_graph(
    edges: DataFrame, contract: bool = False, min_chain_len: int = 3
):
    """Broadcastable prepared adjacency (the engine's analog of the
    reference's PreparedH3EdgeGraph, prepared.rs:29-64): the edge
    table as sorted numpy CSR arrays. Build is one Arrow transfer +
    an argsort (no per-edge Python objects); the pickled broadcast is
    six primitive arrays, ~5x smaller than the dict-of-lists it
    replaces. Reuse the returned handle across routing calls to
    amortize collect + broadcast, exactly like the reference reuses a
    prepared graph across bench iterations (route_germany.rs:58-83).

    ``contract=True`` additionally runs LongEdge chain contraction
    (:func:`_contract_chains`, prepared.rs:260-402): junction-to-
    junction shortcut edges speed point-to-point Dijkstra on chain-
    heavy road graphs. Opt-in because the shortcut's pre-accumulated
    float weight can differ from the step-by-step relaxation sum in
    the last ulp (exactly as in the reference, which also pre-sums) —
    the default path stays bit-identical to the uncontracted oracles.
    Floods (within_weight_threshold) settle every node anyway and
    gain nothing from shortcuts; prepare uncontracted for those."""
    import numpy as np

    pdf = (
        edges.select("origin", "destination", "edge", "weight")
        .limit(_BROADCAST_EDGE_LIMIT + 1)
        .toPandas()
    )
    if len(pdf) > _BROADCAST_EDGE_LIMIT:
        raise ValueError(
            f"edge count exceeds the broadcast limit "
            f"({_BROADCAST_EDGE_LIMIT}); use sssp_frontier for "
            "beyond-broadcast graphs"
        )
    csr = _csr_from_arrays(
        pdf["origin"].to_numpy(np.int64),
        pdf["destination"].to_numpy(np.int64),
        pdf["edge"].to_numpy(np.int64),
        pdf["weight"].to_numpy(np.float64),
    )
    contraction = None
    if contract:
        contraction = _contract_chains(*csr[:6], min_chain_len)
    payload = csr + (contraction,)
    return edges.sparkSession.sparkContext.broadcast(payload)


def _dijkstra_csr(csr, src, dests=None, num_dests=None, threshold=None):
    """Binary-heap Dijkstra with the reference's early-exit rules
    (dijkstra.rs:148-177) over the prepared CSR arrays."""
    import numpy as np

    uniq, starts, ends, vv, ee, ww = csr[:6]
    # LongEdge usage rule (dijkstra.rs:186-204): replace a chain's
    # first edge with its longedge ONLY when routing to destinations
    # the chain is disjoint from (a contained destination would be
    # jumped over); threshold floods never use longedges
    # (edge_dijkstra_weight_threshold's documented contract).
    le_map = None
    if len(csr) > 7 and csr[7] is not None and dests is not None:
        le_map, longedges = csr[7]
        allowed = [dests.isdisjoint(le[4]) for le in longedges]
        # per-origin flag: spans without any longedge take the plain
        # zip fast path (the overwhelming majority of nodes)
        has_le = np.zeros(len(uniq), dtype=bool)
        np.maximum.at(
            has_le,
            np.searchsorted(starts, np.nonzero(le_map >= 0)[0], "right") - 1,
            True,
        )
    dist = {src: 0.0}
    parent: dict = {}
    done = set()
    reached = []
    h = [(0.0, src)]
    while h:
        d, u = heapq.heappop(h)
        if u in done:
            continue
        if threshold is not None and d > threshold:
            break
        done.add(u)
        if dests is not None and u in dests:
            reached.append(u)
            if num_dests is not None and len(reached) >= num_dests:
                break
        j = int(np.searchsorted(uniq, u))
        if j >= len(uniq) or int(uniq[j]) != u:
            continue
        s, t = int(starts[j]), int(ends[j])
        if le_map is None or not has_le[j]:
            slots = zip(
                vv[s:t].tolist(), ee[s:t].tolist(), ww[s:t].tolist()
            )
        else:
            slots = []
            for k, (v, e, w) in enumerate(
                zip(vv[s:t].tolist(), ee[s:t].tolist(), ww[s:t].tolist())
            ):
                li = int(le_map[s + k])
                if li >= 0 and allowed[li]:
                    le = longedges[li]
                    slots.append((le[2], -li - 1, le[3]))
                else:
                    slots.append((v, e, w))
        for v, e, w in slots:
            nd = d + w
            if nd < dist.get(v, inf):
                dist[v] = nd
                parent[v] = (u, e)
                heapq.heappush(h, (nd, v))
    return dist, parent, done, reached


def _assemble_path(parent, src, dst, longedges=None):
    """Walk parents backward (dijkstra.rs:253-312). Negative edge ids
    are LongEdge shortcuts: expand to the stored chain (cells, edge
    ids) so callers always see the FULL cell path, exactly like the
    reference's longedge h3edges_vec expansion (longedge.rs:37-76)."""
    cells = [dst]
    edges = []
    cur = dst
    while cur != src:
        if cur not in parent:
            return None, None
        cur, e = parent[cur]
        if e >= 0 or longedges is None:
            cells.append(cur)
            edges.append(e)
        else:
            le_cells, le_edges = longedges[-e - 1][:2]
            edges.extend(reversed(le_edges))
            # le_cells = [chain_origin .. chain_end]; chain_end is
            # already the last appended cell
            cells.extend(reversed(le_cells[:-1]))
    cells.reverse()
    edges.reverse()
    return cells, edges


_SP_SCHEMA = StructType(
    [
        StructField("origin", LongType()),
        StructField("destination", LongType()),
        StructField("cost", DoubleType()),
        StructField("path_cells", ArrayType(LongType())),
        StructField("path_edges", ArrayType(LongType())),
    ]
)


def shortest_path_many_to_many(
    edges: DataFrame,
    origins,
    destinations,
    num_destinations_to_reach: int | None = None,
    max_distance_to_graph: int = 0,
    prepared=None,
) -> DataFrame:
    """Origins x destinations routing (shortest_path.rs:118-204).

    ``origins``: DataFrame with a `cell` column (or list of cells);
    ``destinations``: list of cells or single-column DataFrame.
    ``max_distance_to_graph``: substitute each origin/destination with
    the nearest graph node within this many grid steps (k), like
    shortest_path.rs:334-414.
    ``prepared``: a :func:`prepare_routing_graph` broadcast handle —
    pass it to skip the per-call collect + broadcast of the adjacency
    (``edges`` is then only used for its SparkSession).

    Returns (origin, destination, cost, path_cells, path_edges) in the
    deterministic (cost, origin, destination) order, with origin/
    destination being the ORIGINAL (pre-substitution) cells.
    """
    spark = edges.sparkSession
    if not isinstance(origins, DataFrame):
        origins = local_df(spark, [(c,) for c in origins], "cell long")
    if isinstance(destinations, DataFrame):
        dest_cells = [r[0] for r in destinations.collect()]
    else:
        dest_cells = list(destinations)

    adj_b = prepared if prepared is not None else prepare_routing_graph(edges)
    dest_nodes = adj_b.value[6]

    sc = spark.sparkContext

    # destination substitution (driver-side: destination list is small)
    import h3ron_spark.h3core as h3c

    def substitute(cell, nodes, k_max):
        if _in_sorted(nodes, cell):
            return cell
        if k_max <= 0:
            return None
        for cand, k in h3c.grid_disk_distances(cell, k_max):
            if k > 0 and _in_sorted(nodes, cand):
                return cand
        return None

    dest_map = {}
    for d in dest_cells:
        sub = substitute(d, dest_nodes, max_distance_to_graph)
        if sub is not None:
            dest_map.setdefault(sub, []).append(d)
    dest_map_b = sc.broadcast(dest_map)
    k_max = max_distance_to_graph
    n_reach = num_destinations_to_reach

    def run(batches):
        import pandas as pd

        # touch the (large) adjacency broadcast only in tasks that
        # actually hold origin rows: with more partitions than
        # origins, most tasks are empty and must not pay the value
        # deserialization
        csr = None
        for pdf in batches:
            if len(pdf) and csr is None:
                csr = adj_b.value
                dmap = dest_map_b.value
                dset = set(dmap.keys())
                onodes = csr[0]
                lngs = (
                    csr[7][1]
                    if len(csr) > 7 and csr[7] is not None
                    else None
                )
            rows = []
            for c in pdf["cell"]:
                orig = int(c)
                src = substitute(orig, onodes, k_max)
                if src is None:
                    continue
                dist, parent, _, reached = _dijkstra_csr(
                    csr, src, dests=dset, num_dests=n_reach
                )
                for node in reached:
                    cells, path_edges = _assemble_path(
                        parent, src, node, longedges=lngs
                    )
                    for original_dest in dmap[node]:
                        rows.append(
                            (orig, original_dest, dist[node], cells, path_edges)
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "origin",
                    "destination",
                    "cost",
                    "path_cells",
                    "path_edges",
                ],
            )

    # re-spread after distinct: the origins frame is typically tiny in
    # bytes (AQE/local_df would leave it on one partition) but each row
    # costs a full Dijkstra — fan the kernel out across all cores
    par = spark.sparkContext.defaultParallelism
    out = (
        origins.select("cell")
        .distinct()
        .repartition(par)
        .mapInPandas(run, _SP_SCHEMA)
    )
    return out.orderBy("cost", "origin", "destination")


def within_weight_threshold(
    edges: DataFrame,
    origins,
    threshold: float,
    aggregate: str | None = None,
    prepared=None,
) -> DataFrame:
    """Isochrone flood (P6/P9): cells reachable within ``threshold``
    cost per origin. ``aggregate``: None -> per-origin rows (origin,
    cell, weight); 'min'/'max'/... -> merged over origins per cell
    (within_weight_threshold.rs:56-101 agg_fn). ``prepared``: reuse a
    :func:`prepare_routing_graph` handle across calls."""
    spark = edges.sparkSession
    if not isinstance(origins, DataFrame):
        origins = local_df(spark, [(c,) for c in origins], "cell long")
    adj_b = prepared if prepared is not None else prepare_routing_graph(edges)
    thr = float(threshold)

    schema = StructType(
        [
            StructField("origin", LongType()),
            StructField("cell", LongType()),
            StructField("weight", DoubleType()),
        ]
    )

    def run(batches):
        import pandas as pd

        csr = None
        for pdf in batches:
            if len(pdf) and csr is None:
                csr = adj_b.value
            rows = []
            for c in pdf["cell"]:
                src = int(c)
                dist, _, done, _ = _dijkstra_csr(csr, src, threshold=thr)
                rows.extend(
                    (src, cell, w) for cell, w in dist.items()
                    if w <= thr and cell in done
                )
            yield pd.DataFrame(rows, columns=["origin", "cell", "weight"])

    par = spark.sparkContext.defaultParallelism
    out = (
        origins.select("cell")
        .distinct()
        .repartition(par)
        .mapInPandas(run, schema)
    )
    if aggregate:
        return out.groupBy("cell").agg(
            getattr(F, aggregate)("weight").alias("weight")
        )
    return out


def differential_shortest_path(
    edges: DataFrame,
    origins,
    destinations,
    exclude_cells,
) -> DataFrame:
    """Routes before vs after removing a cell set from the graph
    (differential_shortest_path.rs:32-139). Exclusion = anti-join on
    both endpoints (modifiers.rs:11-95). Full-outer diff keyed on
    (origin, destination); NULL cost_after = became unreachable."""
    spark = edges.sparkSession
    if not isinstance(exclude_cells, DataFrame):
        exclude_cells = local_df(
            spark, [(c,) for c in exclude_cells], "cell long"
        )
    excluded = (
        edges.join(
            exclude_cells, edges.origin == exclude_cells.cell, "left_anti"
        )
        .join(
            exclude_cells,
            F.col("destination") == exclude_cells.cell,
            "left_anti",
        )
    )
    before = shortest_path_many_to_many(edges, origins, destinations).select(
        "origin", "destination", F.col("cost").alias("cost_before")
    )
    after = shortest_path_many_to_many(excluded, origins, destinations).select(
        "origin", "destination", F.col("cost").alias("cost_after")
    )
    return before.join(after, ["origin", "destination"], "full_outer").orderBy(
        "origin", "destination"
    )


def nearest_graph_nodes(
    df: DataFrame,
    nodes: DataFrame,
    max_k: int,
    cell_col: str = "cell",
) -> DataFrame:
    """P11: for each input cell, all graph nodes at the smallest k
    within max_k (nearest_graph_nodes.rs:7-67). Explode the disk with
    distances, semi-match nodes, keep rows at the per-cell min k."""
    from pyspark.sql import Window

    from h3ron_spark.functions import geo as G

    disks = df.select(
        F.col(cell_col),
        F.explode(G.h3_grid_disk_distances(cell_col, F.lit(max_k))).alias("_nk"),
    ).select(
        cell_col,
        F.col("_nk.cell").alias("node"),
        F.col("_nk.k").alias("k"),
    )
    matched = disks.join(
        F.broadcast(nodes.select(F.col("cell").alias("node"))), "node"
    )
    w = Window.partitionBy(cell_col)
    return (
        matched.withColumn("_mink", F.min("k").over(w))
        .filter(F.col("k") == F.col("_mink"))
        .drop("_mink")
    )


def _local_csr(batches):
    """(uniq_u, starts, ends, v_sorted, w_sorted) CSR view of this
    partition's edge batches (numpy sort + unique, no Python loop)."""
    import numpy as np

    us, vs, ws = [], [], []
    for pdf in batches:
        us.append(pdf["_u"].to_numpy(dtype=np.int64, copy=False))
        vs.append(pdf["_v"].to_numpy(dtype=np.int64, copy=False))
        ws.append(pdf["_w"].to_numpy(dtype=np.float64, copy=False))
    u = np.concatenate(us) if us else np.empty(0, np.int64)
    v = np.concatenate(vs) if vs else np.empty(0, np.int64)
    w = np.concatenate(ws) if ws else np.empty(0, np.float64)
    order = np.argsort(u, kind="stable")
    u, v, w = u[order], v[order], w[order]
    uniq, starts = np.unique(u, return_index=True)
    ends = np.append(starts[1:], len(u))
    return (uniq, starts, ends, v, w)


def _tile_dijkstra(csr, frontier, threshold, track_parents=False):
    """Multi-source Dijkstra over one partition's CSR fragment, one
    heap per origin, seeded by the broadcast frontier labels whose
    cells have outgoing edges here. Returns (origin, cell, weight[,
    parent]) candidate rows (upper bounds; the global min-merge folds
    them). Seed cells re-emit with a NULL parent — the merge's
    old-wins-ties rule keeps their previously recorded parent."""
    import numpy as np

    uniq, starts, ends, v_arr, w_arr = csr
    if len(uniq) == 0 or not frontier:
        return []
    cells = np.fromiter((c for _o, c, _w in frontier), np.int64,
                        len(frontier))
    pos = np.searchsorted(uniq, cells)
    pos[pos >= len(uniq)] = 0
    present = uniq[pos] == cells
    seeds: dict = {}
    for i in np.nonzero(present)[0]:
        o, c, w = frontier[i]
        seeds.setdefault(o, []).append((w, c))
    rows = []
    for o, heap in seeds.items():
        heapq.heapify(heap)
        best = {c: w for w, c in heap}
        parent: dict = {}
        done = set()
        while heap:
            d, u = heapq.heappop(heap)
            if u in done or d > best.get(u, inf):
                continue
            done.add(u)
            if track_parents:
                rows.append((o, u, d, parent.get(u)))
            else:
                rows.append((o, u, d))
            j = np.searchsorted(uniq, u)
            if j >= len(uniq) or uniq[j] != u:
                continue
            for v, w in zip(
                v_arr[starts[j]:ends[j]].tolist(),
                w_arr[starts[j]:ends[j]].tolist(),
            ):
                nd = d + w
                if threshold is not None and nd > threshold:
                    continue
                if nd < best.get(v, inf):
                    best[v] = nd
                    if track_parents:
                        parent[v] = u
                    heapq.heappush(heap, (nd, v))
    return rows


def _default_tile(col):
    return F.crc32(col.cast("string"))


# _bucket domain oversampling: the physical layout re-hashes the
# _bucket VALUES into n_buckets partitions (repartition applies
# Murmur3 to the column — Spark gives no identity partitioner), so
# with exactly n_buckets distinct values that second hash is
# balls-in-bins at load factor 1: ~1/e of the partitions come out
# EMPTY and others hold several bucket values (ADVICE r7 — reduced
# scan parallelism + cogroup skew, correctness unaffected). Carrying
# 8x more distinct _bucket values drops the empty-partition rate to
# ~e^-8 (~0.03%) and caps the expected max/mean load near 1.5 while
# the cogroup still sees a BOUNDED number of groups (~8 kernel
# invocations per partition, never one per tile).
_BUCKET_OVERSAMPLE = 8


def _bucket_of(tile_col, n_buckets: int):
    """The frozen _bucket formula — the one expression every producer
    (edge annotation) and consumer (frontier tiling, plan-pin tests)
    must share, or the cogroup silently pairs nothing."""
    return F.pmod(F.hash(tile_col), F.lit(n_buckets * _BUCKET_OVERSAMPLE))


def prepare_sssp_edges(
    edges: DataFrame, tile_expr=None, num_partitions: int | None = None
) -> DataFrame:
    """Partition the edge table by a spatial tile key, sort it by the
    key within partitions, and cache it for repeated
    :func:`sssp_frontier` floods. ``tile_expr``: maps a cell Column to
    a tile id (coarse H3 parent for cell graphs; falls back to a hash
    — correct but without multi-hop locality or tile pruning). The
    tile function rides along on the returned frame so floods can
    prune the edge scan to frontier tiles.

    cache() rather than localCheckpoint: the in-memory relation
    PRESERVES the hash partitioning and the within-partition sort, so
    each flood round's tile cogroup reuses the layout — only the
    (small) frontier side exchanges per round, the edge side does
    not re-shuffle or re-sort. A checkpointed RDD scan would hide the
    partitioning from Catalyst and force a full edge Exchange+Sort
    every round."""
    npart = num_partitions or edges.sparkSession.sparkContext.defaultParallelism
    tile_fn = tile_expr if tile_expr is not None else _default_tile
    # two-level key: _tile (fine, for the per-round isin scan prune)
    # and _bucket (coarse, the cogroup key, so the Python kernel runs a
    # bounded number of times per partition, not once per tile)
    tile_col = tile_fn(F.col("origin"))
    e = (
        edges.select(
            tile_col.alias("_tile"),
            _bucket_of(tile_col, npart).alias("_bucket"),
            F.col("origin").alias("_u"),
            F.col("destination").alias("_v"),
            F.col("weight").alias("_w"),
        )
        .repartition(npart, "_bucket")
        .sortWithinPartitions("_bucket")
        .persist()
    )
    e.count()  # materialize eagerly, like the checkpoint did
    e._sssp_tile_fn = tile_fn
    e._sssp_npart = npart
    return e


def _make_tile_relax(thr, track_parents, label_cols):
    """Build the cogroup kernel for one flood: (edges_pdf, front_pdf)
    -> candidate labels of a tile-local multi-source Dijkstra."""

    def relax(edges_pdf, front_pdf):
        import pandas as pd

        if len(front_pdf) == 0 or len(edges_pdf) == 0:
            return pd.DataFrame(columns=list(label_cols))
        seeds = list(
            zip(
                front_pdf["origin"].tolist(),
                front_pdf["cell"].tolist(),
                front_pdf["weight"].tolist(),
            )
        )
        rows = _tile_dijkstra(
            _local_csr([edges_pdf]), seeds, thr, track_parents=track_parents
        )
        return pd.DataFrame(rows, columns=list(label_cols))

    return relax


def _make_seeded_relax(thr, track_parents, label_cols):
    """Build the mapInPandas kernel for the broadcast-join seeding
    path: batches of (_u, _v, _w, _so, _sw) where seed labels ride on
    their cell's edge rows (NULL _so on non-seed edges)."""

    def relax(batches):
        import pandas as pd

        frames = list(batches)
        if not frames:
            yield pd.DataFrame(columns=list(label_cols))
            return
        seeds: dict = {}
        for pdf in frames:
            # _so/_sw are COALESCED (non-null) on the JVM side so the
            # Arrow batch keeps exact int64 — a nullable long column
            # would arrive as float64 and round origin ids above 2^53
            # (every real H3 cell id). _hit is the real match flag.
            hit = pdf["_hit"]
            if hit.any():
                for o, c, w in zip(
                    pdf["_so"][hit].tolist(),
                    pdf["_u"][hit].tolist(),
                    pdf["_sw"][hit].tolist(),
                ):
                    seeds[(o, c)] = w
        if not seeds:
            yield pd.DataFrame(columns=list(label_cols))
            return
        seed_rows = [(o, c, w) for (o, c), w in seeds.items()]
        rows = _tile_dijkstra(
            _local_csr(frames), seed_rows, thr, track_parents=track_parents
        )
        yield pd.DataFrame(rows, columns=list(label_cols))

    return relax


def sssp_frontier(
    edges: DataFrame,
    origins,
    threshold: float | None = None,
    max_iter: int = 100,
    tile_expr=None,
    track_parents: bool = False,
) -> DataFrame:
    """Beyond-broadcast SSSP: block-synchronous frontier relaxation
    (the 'Pregel path' of SURVEY §7). Returns (origin, cell, weight)
    like within_weight_threshold.

    Execution: the edge table is partitioned ONCE by
    ``tile_expr(origin)`` (a spatial key — for H3 graphs a coarse
    parent cell; hash of the node id when None), sorted and cached
    with that layout. Each global round seeds a LOCAL multi-source
    Dijkstra with the improved-label frontier and settles every label
    reachable inside a tile group in one round, so global rounds scale
    with the TILE-graph diameter, not the cell-graph hop radius — the
    property that keeps round count flat as the graph grows 100x.
    Seeding adapts to the frontier size:

    - frontier <= ``_MAX_BROADCAST_FRONTIER`` labels: the frontier
      FRAME is torrent-broadcast and attached to its cells' edge rows
      with a broadcast hash join — neither side shuffles or sorts,
      and the kernel runs once per edge partition (``mapInPandas``);
    - larger frontiers: a by-bucket ``cogroup(...).applyInPandas``
      (co-partitioned join) — the cached edge side keeps its layout,
      only the frontier shuffles, and the frontier stays distributed
      END TO END with no broadcast bound at all.

    The merge is one (origin, cell) min-aggregation; the frontier for
    the next round is extracted from the same aggregate via a
    min(struct(weight, prio)) tag (ties keep the old label, so
    equal-cost rediscoveries do not re-enter the frontier).

    NOTHING label-sized ever reaches the driver: per round the driver
    collects only (tile id, label count) rows — used for the edge-scan
    prune, the seeding-path choice, and the convergence check. The
    edge scan is pruned with an ``isin`` on the active tiles while
    they number <= ``_MAX_ISIN_TILES``; beyond that a broadcast
    semi-join against the distinct active tiles prunes with no
    tile-count ceiling.

    Correctness: labels emitted by a tile-local Dijkstra are upper
    bounds given that round's seeds; the global min-merge keeps the
    best; a label only re-seeds a tile when strictly improved —
    standard block Dijkstra, exact at convergence (same monotonicity
    argument as dijkstra.rs:72-133, applied per block).

    ``edges`` may be a frame returned by :func:`prepare_sssp_edges`
    (detected by its marker columns), in which case the one-time
    partition + checkpoint is skipped — amortize it across repeated
    floods of the same graph. If the frame still carries its tile
    function, passing a DIFFERENT ``tile_expr`` raises (pruning under
    a mismatched function would silently truncate the flood); a frame
    that lost the attribute (any transformation drops it) derives the
    label->tile mapping from the stored ``_tile`` column itself via a
    distinct (cell, tile) side table, so pruning stays exact.

    ``track_parents=True`` adds a ``parent`` column: the predecessor
    cell on the best-known path (NULL at the origins). The converged
    frame is the distributed predecessor forest — the scalable
    representation of the reference's Path objects (path.rs) when the
    graph is beyond broadcast; individual paths backtrack through it
    (:func:`backtrack_paths`), and the parent rides inside the same
    min-struct so the winning label's predecessor is selected
    atomically with its weight."""
    spark = edges.sparkSession
    if not isinstance(origins, DataFrame):
        origins = local_df(spark, [(c,) for c in origins], "cell long")

    owns_prepared = False
    if set(edges.columns) == {"_tile", "_bucket", "_u", "_v", "_w"}:
        e = edges
        stored = getattr(edges, "_sssp_tile_fn", None)
        if (
            stored is not None
            and tile_expr is not None
            and tile_expr is not stored
            # a rebuilt-but-identical function (fresh lambda, after
            # pickling, ...) is fine when it generates the same
            # expression tree as the stored one — compare the columns
            # it produces, not Python object identity
            and repr(tile_expr(F.col("cell"))) != repr(stored(F.col("cell")))
        ):
            raise ValueError(
                "conflicting tile_expr: this prepared frame already "
                "carries the tile function that computed its _tile "
                "column, and the supplied one generates a different "
                "expression; pass tile_expr=None (or an equivalent "
                "function). Pruning under a different function would "
                "drop edges and silently truncate the flood."
            )
        tile_fn = stored or tile_expr
    else:
        e = prepare_sssp_edges(edges, tile_expr)
        tile_fn = e._sssp_tile_fn
        owns_prepared = True

    # label -> tile id. With a known tile function this is a free JVM
    # expression; otherwise derive the mapping from the edge table
    # itself (distinct (_u, _tile), built once per call) — exact under
    # ANY stored tile column. Cells with no outgoing edges drop out of
    # the seeding either way (their labels cannot relax anything) but
    # keep their rows in the result.
    npart = getattr(e, "_sssp_npart", None)
    if tile_fn is not None and npart is not None:

        def tiled(labels: DataFrame) -> DataFrame:
            t = tile_fn(F.col("cell"))
            return labels.withColumn("_tile", t).withColumn(
                "_bucket", _bucket_of(t, npart)
            )

    else:
        # alias the key columns on the way out: the cogroup below
        # pairs this mapping's descendants with the edge frame itself,
        # and shared attribute ids would trip the ambiguous-self-join
        # check
        cell_tiles = (
            e.select(
                F.col("_u").alias("cell"),
                F.col("_tile").alias("_ct"),
                F.col("_bucket").alias("_cb"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )

        def tiled(labels: DataFrame) -> DataFrame:
            return (
                labels.join(cell_tiles, "cell")
                .withColumnRenamed("_ct", "_tile")
                .withColumnRenamed("_cb", "_bucket")
            )

    dist = origins.select(
        F.col("cell").alias("origin"),
        F.col("cell").alias("cell"),
        F.lit(0.0).alias("weight"),
        *([F.lit(None).cast("long").alias("parent")] if track_parents else []),
    ).localCheckpoint(eager=True)
    frontier = dist

    thr = None if threshold is None else float(threshold)
    cand_fields = [
        StructField("origin", LongType()),
        StructField("cell", LongType()),
        StructField("weight", DoubleType()),
    ]
    if track_parents:
        cand_fields.append(StructField("parent", LongType()))
    cand_schema = StructType(cand_fields)
    label_cols = ["origin", "cell", "weight"] + (
        ["parent"] if track_parents else []
    )
    struct_cols = ["weight", "_prio"] + (["parent"] if track_parents else [])

    for _ in range(max_iter):
        front = tiled(frontier.select("origin", "cell", "weight"))
        # the ONLY per-round driver traffic: (tile id, label count)
        # rows — bounded by tile cardinality, never label cardinality.
        # The same probe doubles as the convergence check, so a round
        # costs exactly two jobs: this one and the merge checkpoint.
        tile_rows = front.groupBy("_tile").count().collect()
        if not tile_rows:
            break
        n_front = sum(r["count"] for r in tile_rows)
        tiles = [r["_tile"] for r in tile_rows if r["_tile"] is not None]
        if len(tiles) == len(tile_rows) and len(tiles) <= _MAX_ISIN_TILES:
            e_round = e.filter(F.col("_tile").isin(tiles))
        else:
            # null-SAFE equality: a frontier label whose tile id is
            # NULL (a tile_expr that can null out) must still match
            # the NULL-tile edge rows instead of silently losing them
            act = front.select(F.col("_tile").alias("_t2")).distinct()
            e_round = e.join(
                F.broadcast(act),
                F.col("_tile").eqNullSafe(F.col("_t2")),
                "semi",
            )

        if n_front <= _MAX_BROADCAST_FRONTIER:
            # fast path: torrent-broadcast the frontier FRAME and attach
            # each seed label to its cell's edge rows via a broadcast
            # hash join — no shuffle or sort on either side, and the
            # kernel keeps per-PARTITION granularity
            seeds_df = front.select(
                F.col("cell").alias("_u"),
                F.col("origin").alias("_so"),
                F.col("weight").alias("_sw"),
            )
            seeded = (
                e_round.select("_u", "_v", "_w")
                .join(F.broadcast(seeds_df), "_u", "left")
                # keep _so exact int64 through Arrow: nullable longs
                # arrive in pandas as float64, corrupting ids above
                # 2^53 — flag the match separately and fill the gaps
                # with 0
                .withColumn("_hit", F.col("_so").isNotNull())
                .withColumn("_so", F.coalesce("_so", F.lit(0)))
                .withColumn("_sw", F.coalesce("_sw", F.lit(0.0)))
            )
            relax = _make_seeded_relax(thr, track_parents, tuple(label_cols))
            cand = seeded.mapInPandas(relax, cand_schema)
        else:
            # beyond-broadcast frontier: co-partitioned cogroup by
            # bucket — the frontier shuffles, the cached edge side does
            # not. cogroup contract: exactly (left, right);
            # round-invariant settings ride in the closure
            relax = _make_tile_relax(thr, track_parents, tuple(label_cols))
            cand = (
                e_round.groupby("_bucket")
                .cogroup(front.groupby("_bucket"))
                .applyInPandas(relax, cand_schema)
            )

        # single-shuffle merge + frontier extraction: old labels win
        # ties via the prio field inside the min-struct (the parent
        # rides in the same struct, so the winner's predecessor is
        # chosen atomically)
        merged = (
            dist.withColumn("_prio", F.lit(0))
            .unionByName(cand.withColumn("_prio", F.lit(1)))
            .groupBy("origin", "cell")
            .agg(F.min(F.struct(*struct_cols)).alias("_s"))
            .select(
                "origin",
                "cell",
                F.col("_s.weight").alias("weight"),
                F.col("_s._prio").alias("_prio"),
                *(
                    [F.col("_s.parent").alias("parent")]
                    if track_parents
                    else []
                ),
            )
            .localCheckpoint(eager=True)
        )
        dist = merged.select(*label_cols)
        frontier = merged.filter(F.col("_prio") == 1).select(*label_cols)
    if owns_prepared:
        # a flood that prepared its own edge cache releases it — the
        # labels are checkpointed, so nothing downstream re-reads it.
        # (Caller-prepared frames stay cached for reuse across floods;
        # the caller owns their unpersist.)
        e.unpersist()
    return dist


def backtrack_paths(dist: DataFrame, destinations, max_hops: int = 10_000):
    """Extract explicit cell paths from a ``track_parents`` forest
    (:func:`sssp_frontier`) for a SMALL destination set.

    Distributed walk: each hop is ONE inner join of the active chain
    heads (|destinations| rows, broadcast) against the forest — the
    forest itself is never collected or filtered driver-side; the only
    rows that reach the driver are finished chains, i.e. the
    function's return value. Cost scales with path length x one join
    per hop, so use it for bounded floods / few destinations; for bulk
    analysis read the forest relationally instead — it IS the scalable
    path representation.

    Returns {(origin, destination): [cells origin..destination]};
    unreachable destinations are absent."""
    if "parent" not in dist.columns:
        raise ValueError("dist must come from sssp_frontier(track_parents=True)")
    spark = dist.sparkSession
    d = dist.select("origin", "cell", "parent")
    dest_list = sorted({int(x) for x in destinations})
    dests = local_df(spark, [(c,) for c in dest_list], "cell long")
    # chains grow dest -> origin; reversed on return
    active = (
        d.join(F.broadcast(dests), "cell")
        .select(
            "origin",
            F.col("cell").alias("destination"),
            F.array("cell").alias("path"),
            F.col("parent").alias("_next"),
        )
        .localCheckpoint(eager=True)
    )
    forest = d.select(
        F.col("origin").alias("_o"),
        F.col("cell").alias("_c"),
        F.col("parent").alias("_p"),
    )
    out: dict = {}
    for _ in range(max_hops + 1):
        # chains whose next parent is NULL have reached their origin —
        # these rows ARE the result, so collecting them is the output
        # path, not an intermediate materialization
        for r in active.filter(F.col("_next").isNull()).collect():
            out[(r["origin"], r["destination"])] = list(
                reversed(r["path"])
            )
        pending = active.filter(F.col("_next").isNotNull())
        # one broadcast join per hop: the (tiny) chain heads probe the
        # forest for their parents' labels. Inner join: a missing
        # parent label (broken chain — cannot happen on a converged
        # forest) drops the chain, matching the driver-loop semantics.
        step = F.broadcast(pending).join(
            forest,
            (pending["origin"] == forest["_o"])
            & (pending["_next"] == forest["_c"]),
            "inner",
        ).select(
            pending["origin"],
            pending["destination"],
            F.concat("path", F.array("_next")).alias("path"),
            forest["_p"].alias("_next"),
        )
        active = step.localCheckpoint(eager=True)
        if active.isEmpty():
            return out
    # a too-long path must not masquerade as unreachable
    raise ValueError(
        f"chain(s) unresolved after max_hops={max_hops}; "
        "raise max_hops (paths exist but are longer)"
    )


def covered_area(
    edges: DataFrame,
    reduce_res: int,
    smooth_iterations: int = 0,
) -> DataFrame:
    """P12 CoveredArea (covered_area.rs:13-52): dissolved multipolygon
    outline of the graph's node coverage at a reduced resolution —
    node cells -> parents -> grouped dissolve (D2 + G5/G6)."""
    from h3ron_spark.functions import bits as B
    from h3ron_spark.operators.dissolve import cells_to_polygons_df

    from h3ron_spark.graph.build import graph_nodes

    nodes = graph_nodes(edges).select(
        B.h3_to_parent("cell", reduce_res).alias("cell")
    ).distinct()
    return cells_to_polygons_df(
        nodes, "cell", smooth_iterations=smooth_iterations
    )
