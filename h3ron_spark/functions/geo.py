"""Geodesic H3 kernels as Arrow UDFs (Spark 4.1 ``arrow_udf``).

Every function wraps ``h3ron_spark.h3core`` (pure-Python H3): the JVM
ships Arrow batches, the kernel loops in Python with per-cell
memoization, results flow back as Arrow arrays. ``arrow_udf`` (not
``pandas_udf``) is deliberate: pandas coerces nullable int64 batches to
float64, which silently corrupts H3 indexes above 2^53 — pyarrow
preserves exact int64 + validity.

Parity targets (reference is Rust; re-expressed, not ported):
- S1/S2/S3 encode/decode/boundary: h3ron/src/cell.rs:66-85, 440-460
- S7/S8 hierarchy:                 h3ron/src/cell.rs:115-130, 328-339
- S10-S15 traversal:               h3ron/src/cell.rs:141-242
- S18 areas:                       h3ron/src/cell.rs:283-326
- S19-S24 edges:                   h3ron/src/cell.rs:254-281,
                                   h3ron/src/directed_edge.rs
- S25 local ij:                    h3ron/src/localij.rs:63-100
- D2/D3 change-res/compact:        h3ron-polars/src/algorithm/chunkedarray/
                                   resolution.rs:29-49, compact.rs:7-21

Null contract (SURVEY §1.2): invalid inputs and kernel errors become
SQL NULL, mirroring the reference's invalid->null Arrow conversion
(h3ron-polars/src/from.rs:9-34).

Scale note: per-row kernels are memoized on the cell key, so a batch
with repeated cells (the common shape after joins/groupBys) costs one
kernel call per *distinct* cell. All functions are stateless
projections: they pipeline inside one Spark stage, add no shuffle, and
work unchanged under Structured Streaming.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

import h3ron_spark.h3core as h3c

_CACHE = 1 << 17

_F64 = pa.float64()
_I64 = pa.int64()
_I32 = pa.int32()
_BOOL = pa.bool_()
_STR = pa.string()
_LATLNG = pa.struct([pa.field("lat", _F64), pa.field("lng", _F64)])
_ARR_I64 = pa.list_(_I64)

_LATLNG_SPARK = T.StructType(
    [T.StructField("lat", T.DoubleType()), T.StructField("lng", T.DoubleType())]
)
_IJ_SPARK = T.StructType(
    [T.StructField("i", T.IntegerType()), T.StructField("j", T.IntegerType())]
)
_CELL_K_SPARK = T.ArrayType(
    T.StructType(
        [T.StructField("cell", T.LongType()), T.StructField("k", T.IntegerType())]
    )
)
_EDGE_CELLS_SPARK = T.StructType(
    [
        T.StructField("origin", T.LongType()),
        T.StructField("destination", T.LongType()),
    ]
)
_BOUNDARY_SPARK = T.ArrayType(_LATLNG_SPARK)
_ARR_I64_SPARK = T.ArrayType(T.LongType())


# ------------------------------------------------------------ encode / decode


@arrow_udf(T.LongType())
def h3_latlng_to_cell(lat: pa.Array, lng: pa.Array, res: pa.Array) -> pa.Array:
    """S1 encode (cell.rs:66-71), numpy-vectorized whole-batch kernel
    (h3core.vectorized; bit-exact vs the scalar reference, pentagons
    fall back row-wise)."""
    import numpy as np

    from h3ron_spark.h3core.vectorized import latlng_to_cell_batch

    la = lat.to_numpy(zero_copy_only=False)
    ln = lng.to_numpy(zero_copy_only=False)
    rs = res.to_numpy(zero_copy_only=False)
    rs_null = ~np.isfinite(rs) if rs.dtype.kind == "f" else np.zeros(len(rs), bool)
    cells = latlng_to_cell_batch(
        la, ln, np.where(rs_null, -1, rs).astype(np.int64)
    )
    return pa.array(cells, _I64, mask=cells == 0)


@lru_cache(maxsize=_CACHE)
def _latlng(cell):
    """Scalar decode helper for low-volume call sites (edge lengths,
    driver-side fixtures); the column UDFs below use the numpy batch
    decode (S2 canonical path, h3core/vectorized.py)."""
    if cell is None or not h3c.is_valid_cell(cell):
        return None
    return h3c.cell_to_latlng(cell)


def _decode_batch(cell: pa.Array):
    """(lat_deg, lng_deg, valid_mask) via the vectorized decode; NULL
    and invalid rows come back NaN/False."""
    from h3ron_spark.h3core import vectorized as V

    c, cv = _np_col(cell)
    la, ln = V.cell_to_latlng_batch(c)
    ok = cv & ~np.isnan(la)
    return la, ln, ok


@arrow_udf(_LATLNG_SPARK)
def h3_cell_to_latlng(cell: pa.Array) -> pa.Array:
    la, ln, ok = _decode_batch(cell)
    mask = None if ok.all() else pa.array(~ok)
    return pa.StructArray.from_arrays(
        [pa.array(la, _F64), pa.array(ln, _F64)],
        names=["lat", "lng"],
        mask=mask,
    )


@arrow_udf(T.DoubleType())
def h3_cell_to_lat(cell: pa.Array) -> pa.Array:
    la, _, ok = _decode_batch(cell)
    return pa.array(la, _F64, mask=~ok)


@arrow_udf(T.DoubleType())
def h3_cell_to_lng(cell: pa.Array) -> pa.Array:
    _, ln, ok = _decode_batch(cell)
    return pa.array(ln, _F64, mask=~ok)


def _boundary_batch(cell: pa.Array):
    """Per-row boundary lists via the numpy batch kernel (S3 canonical
    path; pentagons fall back to the scalar kernel inside)."""
    from h3ron_spark.h3core import vectorized as V

    c, cv = _np_col(cell)
    rows = V.cell_to_boundary_batch(c)
    return [r if ok else None for r, ok in zip(rows, cv)]


@arrow_udf(_BOUNDARY_SPARK)
def h3_cell_to_boundary(cell: pa.Array) -> pa.Array:
    out = [
        None if b is None else [{"lat": la, "lng": ln} for la, ln in b]
        for b in _boundary_batch(cell)
    ]
    return pa.array(out, pa.list_(_LATLNG))


def _ring_wkt(coords):
    """Closed WKT POLYGON ring from (lat,lng) vertices (lng lat order)."""
    pts = list(coords) + [coords[0]]
    inner = ", ".join(f"{ln:.9f} {la:.9f}" for la, ln in pts)
    return f"POLYGON (({inner}))"


@arrow_udf(T.StringType())
def h3_cell_to_boundary_wkt(cell: pa.Array) -> pa.Array:
    out = [
        None if b is None else _ring_wkt(b) for b in _boundary_batch(cell)
    ]
    return pa.array(out, _STR)


# ------------------------------------------------------------------ hierarchy


def _np_col(arr: pa.Array):
    """(int64 values with nulls as 0, bool validity) from an Arrow col."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    valid = np.asarray(arr.is_valid())
    vals = arr.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    return vals, valid


def _np_list_col(arr: pa.Array):
    """(flat int64 values, per-row lengths, row validity) from a
    list<int64> column; inner nulls are dropped (scalar-loop parity)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    import pyarrow.compute as pc

    row_valid = np.asarray(arr.is_valid())
    flat = arr.flatten()  # values of non-null rows, in row order
    lengths = np.asarray(
        pc.fill_null(pc.list_value_length(arr), 0).to_numpy(
            zero_copy_only=False
        ),
        dtype=np.int64,
    )
    inner_valid = np.asarray(flat.is_valid())
    flat_np = flat.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    if not inner_valid.all():
        # drop inner nulls and shrink the owning rows' lengths
        row_of = np.repeat(np.arange(len(lengths)), lengths)
        drop_per_row = np.bincount(
            row_of[~inner_valid], minlength=len(lengths)
        )
        lengths = lengths - drop_per_row
        flat_np = flat_np[inner_valid]
    return flat_np, lengths, row_valid


def _ragged_scatter(values, offsets, rows_idx, flat, counts):
    """Write per-row variable-length runs into the flat output."""
    if flat.size == 0:
        return
    starts = np.repeat(offsets[rows_idx], counts)
    inner = np.arange(flat.size, dtype=np.int64) - np.repeat(
        np.cumsum(counts) - counts, counts
    )
    values[starts + inner] = flat


def _list_result(values: np.ndarray, counts: np.ndarray, row_valid) -> pa.Array:
    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        # ListArray offsets are int32; silently wrapping would corrupt
        # the ragged layout. A batch this large must be split upstream
        # (smaller spark.sql.execution.arrow.maxRecordsPerBatch).
        raise OverflowError(
            f"list result of {int(offsets[-1])} elements exceeds int32 "
            "offset range; reduce the Arrow batch size"
        )
    mask = None
    if row_valid is not None and not row_valid.all():
        mask = pa.array(~row_valid)
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values, _I64), mask=mask
    )


@arrow_udf(_ARR_I64_SPARK)
def h3_cell_to_children(cell: pa.Array, child_res: pa.Array) -> pa.Array:
    """S7 (cell.rs:115-130): numpy digit-enumeration batch kernel;
    pentagon subtrees take the scalar path inside the batch kernel."""
    from h3ron_spark.h3core import vectorized as V

    c, cv = _np_col(cell)
    r, rv = _np_col(child_res)
    # NULL contract: NULL/invalid cell -> NULL row; a valid cell with
    # an out-of-range child_res -> empty list (scalar
    # cells.cell_to_children parity: res outside [0,15] yields []).
    base = cv & rv & V.is_valid_cell_np(c)
    ok = base & (r >= 0) & (r <= 15)
    counts = np.zeros(len(c), dtype=np.int64)
    pieces_rows: list = []
    pieces_flat: list = []
    pieces_counts: list = []
    for tv in np.unique(r[ok]) if len(c) else ():
        rows = np.nonzero(ok & (r == tv))[0]
        flat, cnts = V.cell_to_children_batch(c[rows], int(tv))
        counts[rows] = cnts
        pieces_rows.append(rows)
        pieces_flat.append(flat)
        pieces_counts.append(cnts)
    offsets = np.zeros(len(c) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    values = np.empty(int(offsets[-1]), dtype=np.int64)
    for rows, flat, cnts in zip(pieces_rows, pieces_flat, pieces_counts):
        _ragged_scatter(values, offsets, rows, flat, cnts)
    return _list_result(values, counts, base)


@arrow_udf(_ARR_I64_SPARK)
def h3_change_resolution(cell: pa.Array, target_res: pa.Array) -> pa.Array:
    """D2: coarser -> [parent]; same -> [cell]; finer -> children.
    Mirrors h3ron/src/iter/resolution.rs:9-142 semantics. The parent
    leg is one vectorized bit-math pass; children use the batch
    digit-enumeration kernel."""
    from h3ron_spark.h3core import vectorized as V

    c, cv = _np_col(cell)
    r, rv = _np_col(target_res)
    ok = cv & rv & (r >= 0) & (r <= 15) & V.is_valid_cell_np(c)
    res = (c >> np.int64(52)) & np.int64(15)
    up = ok & (r <= res)  # parent or self: one cell out
    down = ok & (r > res)
    counts = np.zeros(len(c), dtype=np.int64)
    counts[up] = 1
    pieces = []
    for tv in np.unique(r[down]) if len(c) else ():
        rows = np.nonzero(down & (r == tv))[0]
        flat, cnts = V.cell_to_children_batch(c[rows], int(tv))
        counts[rows] = cnts
        pieces.append((rows, flat, cnts))
    offsets = np.zeros(len(c) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    values = np.empty(int(offsets[-1]), dtype=np.int64)
    up_rows = np.nonzero(up)[0]
    values[offsets[up_rows]] = V.cell_to_parent_np(c[up_rows], r[up_rows])
    for rows, flat, cnts in pieces:
        _ragged_scatter(values, offsets, rows, flat, cnts)
    return _list_result(values, counts, ok)


# ------------------------------------------------------------------ traversal


def _grid_window_batch(c, ok, kmin, kmax):
    """Shared disk/ring/window batch: per row the (distance, cell)-
    sorted cells with grid distance in [kmin, kmax]. Distinct-cell
    dedup per (kmin, kmax) group recovers the memoization the scalar
    lru_cache provided (batches repeat cells after joins/groupBys).
    Returns (flat cells, flat distances, per-row counts)."""
    from h3ron_spark.h3core import vectorized as V

    n = len(c)
    counts = np.zeros(n, dtype=np.int64)
    chunks = []
    pairs = (
        np.unique(np.stack([kmin[ok], kmax[ok]], axis=1), axis=0)
        if ok.any()
        else ()
    )
    for lo, hi in pairs:
        rows = np.nonzero(ok & (kmin == lo) & (kmax == hi))[0]
        u, inv = np.unique(c[rows], return_inverse=True)
        fc, fd, cnt = V.grid_disk_distances_batch(u, int(hi), int(lo))
        starts = np.zeros(len(u) + 1, dtype=np.int64)
        np.cumsum(cnt, out=starts[1:])
        rcnt = cnt[inv]
        counts[rows] = rcnt
        total = int(rcnt.sum())
        gidx = np.repeat(starts[:-1][inv], rcnt) + (
            np.arange(total, dtype=np.int64)
            - np.repeat(np.cumsum(rcnt) - rcnt, rcnt)
        )
        chunks.append((rows, fc[gidx], fd[gidx], rcnt))
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    out_c = np.empty(int(offsets[-1]), dtype=np.int64)
    out_d = np.empty(int(offsets[-1]), dtype=np.int64)
    for rows, fc, fd, rcnt in chunks:
        _ragged_scatter(out_c, offsets, rows, fc, rcnt)
        _ragged_scatter(out_d, offsets, rows, fd, rcnt)
    return out_c, out_d, counts


def _cell_k_result(out_c, out_d, counts, ok) -> pa.Array:
    values = pa.StructArray.from_arrays(
        [pa.array(out_c, _I64), pa.array(out_d.astype(np.int32), _I32)],
        ["cell", "k"],
    )
    offsets = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    mask = None if ok.all() else pa.array(~ok)
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), values, mask=mask
    )


def _disk_ok(cell: pa.Array, k: pa.Array):
    from h3ron_spark.h3core import vectorized as V

    c, cv = _np_col(cell)
    kk, kv = _np_col(k)
    return c, kk, cv & kv & (kk >= 0) & V.is_valid_cell_np(c)


@arrow_udf(_ARR_I64_SPARK)
def h3_grid_disk(cell: pa.Array, k: pa.Array) -> pa.Array:
    """S10 k-ring (cell.rs:141-155) via the batch offset-disk kernel."""
    c, kk, ok = _disk_ok(cell, k)
    out_c, _, counts = _grid_window_batch(c, ok, np.zeros_like(kk), kk)
    return _list_result(out_c, counts, ok)


@arrow_udf(_ARR_I64_SPARK)
def h3_grid_ring(cell: pa.Array, k: pa.Array) -> pa.Array:
    """S11 hollow ring (cell.rs:157-168)."""
    c, kk, ok = _disk_ok(cell, k)
    out_c, _, counts = _grid_window_batch(c, ok, kk, kk)
    return _list_result(out_c, counts, ok)


@arrow_udf(_CELL_K_SPARK)
def h3_grid_disk_distances(cell: pa.Array, k: pa.Array) -> pa.Array:
    """S12 disk with per-cell distance (cell.rs:186-218)."""
    c, kk, ok = _disk_ok(cell, k)
    out_c, out_d, counts = _grid_window_batch(c, ok, np.zeros_like(kk), kk)
    return _cell_k_result(out_c, out_d, counts, ok)


@arrow_udf(_CELL_K_SPARK)
def h3_grid_disk_distances_range(
    cell: pa.Array, k_min: pa.Array, k_max: pa.Array
) -> pa.Array:
    """Ring-window disk: cells with distance in [k_min, k_max]
    (GridDiskBuilder, h3ron/src/iter/grid_disk.rs:16-100). A null or
    negative k_min clamps to 0 (builder default); a null/negative
    k_max nulls the row."""
    from h3ron_spark.h3core import vectorized as V

    c, cv = _np_col(cell)
    hi, hv = _np_col(k_max)
    lo, _ = _np_col(k_min)  # null lo -> 0 via fill_null
    lo = np.maximum(lo, 0)
    ok = cv & hv & (hi >= 0) & V.is_valid_cell_np(c)
    out_c, out_d, counts = _grid_window_batch(c, ok, lo, hi)
    return _cell_k_result(out_c, out_d, counts, ok)


@arrow_udf(T.IntegerType())
def h3_grid_distance(a: pa.Array, b: pa.Array) -> pa.Array:
    out = []
    for x, y in zip(a.to_pylist(), b.to_pylist()):
        if (
            x is None
            or y is None
            or not h3c.is_valid_cell(x)
            or not h3c.is_valid_cell(y)
        ):
            out.append(None)
            continue
        try:
            out.append(h3c.grid_distance(x, y))
        except Exception:
            out.append(None)
    return pa.array(out, _I32)


@arrow_udf(_ARR_I64_SPARK)
def h3_grid_path(a: pa.Array, b: pa.Array) -> pa.Array:
    out = []
    for x, y in zip(a.to_pylist(), b.to_pylist()):
        if (
            x is None
            or y is None
            or not h3c.is_valid_cell(x)
            or not h3c.is_valid_cell(y)
        ):
            out.append(None)
            continue
        try:
            out.append(h3c.grid_path_cells(x, y))
        except Exception:
            out.append(None)
    return pa.array(out, _ARR_I64)


@arrow_udf(T.BooleanType())
def h3_are_neighbor_cells(a: pa.Array, b: pa.Array) -> pa.Array:
    out = []
    for x, y in zip(a.to_pylist(), b.to_pylist()):
        if (
            x is None
            or y is None
            or not h3c.is_valid_cell(x)
            or not h3c.is_valid_cell(y)
        ):
            out.append(None)
            continue
        out.append(h3c.are_neighbor_cells(x, y))
    return pa.array(out, _BOOL)


# ----------------------------------------------------------------------- area


def _cell_scalar_f64_udf(fn, valid=h3c.is_valid_cell):
    memo: dict = {}

    def kernel(cell: pa.Array) -> pa.Array:
        out = []
        for c in cell.to_pylist():
            if c in memo:
                out.append(memo[c])
                continue
            v = fn(c) if c is not None and valid(c) else None
            if len(memo) < _CACHE:
                memo[c] = v
            out.append(v)
        return pa.array(out, _F64)

    kernel.__name__ = fn.__name__
    return arrow_udf(T.DoubleType())(kernel)


h3_cell_area_km2 = _cell_scalar_f64_udf(h3c.cell_area_km2)
h3_cell_area_m2 = _cell_scalar_f64_udf(h3c.cell_area_m2)
h3_cell_area_rads2 = _cell_scalar_f64_udf(h3c.cell_area_rads2)


# ---------------------------------------------------------------------- edges


@arrow_udf(_ARR_I64_SPARK)
def h3_cell_to_directed_edges(cell: pa.Array) -> pa.Array:
    out = []
    for c in cell.to_pylist():
        if c is None or not h3c.is_valid_cell(c):
            out.append(None)
            continue
        out.append(h3c.origin_to_directed_edges(c))
    return pa.array(out, _ARR_I64)


@arrow_udf(T.LongType())
def h3_cells_to_directed_edge(a: pa.Array, b: pa.Array) -> pa.Array:
    out = []
    for x, y in zip(a.to_pylist(), b.to_pylist()):
        if x is None or y is None:
            out.append(None)
            continue
        try:
            out.append(h3c.cells_to_directed_edge(x, y))
        except Exception:
            out.append(None)
    return pa.array(out, _I64)


@lru_cache(maxsize=_CACHE)
def _edge_cells(e):
    if e is None or not h3c.is_valid_directed_edge(e):
        return None
    return h3c.directed_edge_to_cells(e)


@arrow_udf(_EDGE_CELLS_SPARK)
def h3_directed_edge_to_cells(edge: pa.Array) -> pa.Array:
    cells = [_edge_cells(e) for e in edge.to_pylist()]
    orig = pa.array([None if c is None else c[0] for c in cells], _I64)
    dest = pa.array([None if c is None else c[1] for c in cells], _I64)
    return pa.StructArray.from_arrays(
        [orig, dest], names=["origin", "destination"]
    )


@arrow_udf(T.LongType())
def h3_edge_destination(edge: pa.Array) -> pa.Array:
    return pa.array(
        [(_edge_cells(e) or (None, None))[1] for e in edge.to_pylist()], _I64
    )


@arrow_udf(T.LongType())
def h3_edge_reverse(edge: pa.Array) -> pa.Array:
    out = []
    for e in edge.to_pylist():
        if e is None or not h3c.is_valid_directed_edge(e):
            out.append(None)
            continue
        out.append(h3c.edge_reverse(e))
    return pa.array(out, _I64)


@arrow_udf(_ARR_I64_SPARK)
def h3_following_edges(edge: pa.Array) -> pa.Array:
    """Edges leading away from the input edge's destination cell,
    excluding the reverse of the input — the reference's
    ``following_edges_leading_from_destination``
    (h3ron/src/iter/edge.rs:47-59). 5 edges for hexagons."""
    out = []
    for e in edge.to_pylist():
        if e is None or not h3c.is_valid_directed_edge(e):
            out.append(None)
            continue
        dest = h3c.directed_edge_to_cells(e)[1]
        rev = h3c.edge_reverse(e)
        out.append(
            [x for x in h3c.origin_to_directed_edges(dest) if x != rev]
        )
    return pa.array(out, _ARR_I64)


@arrow_udf(_ARR_I64_SPARK)
def h3_previous_edges(edge: pa.Array) -> pa.Array:
    """Edges leading INTO the input edge's origin cell, excluding the
    reverse of the input — the reference's
    ``previous_edges_leading_to_origin`` (iter/edge.rs:35-45: the
    origin's out-edges minus the input, each reversed)."""
    out = []
    for e in edge.to_pylist():
        if e is None or not h3c.is_valid_directed_edge(e):
            out.append(None)
            continue
        orig = h3c.directed_edge_to_cells(e)[0]
        out.append(
            [
                h3c.edge_reverse(x)
                for x in h3c.origin_to_directed_edges(orig)
                if x != e
            ]
        )
    return pa.array(out, _ARR_I64)


h3_edge_length_km = _cell_scalar_f64_udf(
    h3c.edge_length_km, valid=h3c.is_valid_directed_edge
)
h3_edge_length_m = _cell_scalar_f64_udf(
    h3c.edge_length_m, valid=h3c.is_valid_directed_edge
)
h3_edge_length_rads = _cell_scalar_f64_udf(
    h3c.edge_length_rads, valid=h3c.is_valid_directed_edge
)


@arrow_udf(T.StringType())
def h3_edge_boundary_wkt(edge: pa.Array) -> pa.Array:
    out = []
    for e in edge.to_pylist():
        if e is None or not h3c.is_valid_directed_edge(e):
            out.append(None)
            continue
        pts = h3c.edge_boundary(e)
        out.append(
            "LINESTRING ("
            + ", ".join(f"{ln:.9f} {la:.9f}" for la, ln in pts)
            + ")"
        )
    return pa.array(out, _STR)


@arrow_udf(T.DoubleType())
def h3_cell_centroid_distance_m(a: pa.Array, b: pa.Array) -> pa.Array:
    """Great-circle distance between two cells' centroids
    (h3ron/src/directed_edge.rs:286-301). Vectorized: numpy decode +
    haversine over the whole batch."""
    from h3ron_spark.h3core.constants import EARTH_RADIUS_KM

    la1, ln1, ok1 = _decode_batch(a)
    la2, ln2, ok2 = _decode_batch(b)
    ok = ok1 & ok2
    d2r = np.pi / 180.0
    la1 = np.where(ok, la1, 0.0)
    ln1 = np.where(ok, ln1, 0.0)
    la2 = np.where(ok, la2, 0.0)
    ln2 = np.where(ok, ln2, 0.0)
    sl = np.sin((la2 - la1) * (d2r / 2.0))
    sg = np.sin((ln2 - ln1) * (d2r / 2.0))
    h = sl * sl + np.cos(la1 * d2r) * np.cos(la2 * d2r) * sg * sg
    dist = (
        2.0
        * np.arcsin(np.sqrt(np.minimum(1.0, h)))
        * (EARTH_RADIUS_KM * 1000.0)
    )
    return pa.array(dist, _F64, mask=~ok)


@arrow_udf(T.DoubleType())
def h3_great_circle_distance_km(
    lat1: pa.Array, lng1: pa.Array, lat2: pa.Array, lng2: pa.Array
) -> pa.Array:
    out = []
    for a, b, c, d in zip(
        lat1.to_pylist(), lng1.to_pylist(), lat2.to_pylist(), lng2.to_pylist()
    ):
        if a is None or b is None or c is None or d is None:
            out.append(None)
            continue
        out.append(h3c.great_circle_distance_km(a, b, c, d))
    return pa.array(out, _F64)


# ------------------------------------------------------------------- local ij


@arrow_udf(_IJ_SPARK)
def h3_cell_to_local_ij(origin: pa.Array, cell: pa.Array) -> pa.Array:
    ii, jj = [], []
    for o, c in zip(origin.to_pylist(), cell.to_pylist()):
        ij = None
        if (
            o is not None
            and c is not None
            and h3c.is_valid_cell(o)
            and h3c.is_valid_cell(c)
        ):
            try:
                ij = h3c.cell_to_local_ij(o, c)
            except Exception:
                ij = None
        ii.append(None if ij is None else ij[0])
        jj.append(None if ij is None else ij[1])
    return pa.StructArray.from_arrays(
        [pa.array(ii, _I32), pa.array(jj, _I32)], names=["i", "j"]
    )


@arrow_udf(T.LongType())
def h3_local_ij_to_cell(origin: pa.Array, i: pa.Array, j: pa.Array) -> pa.Array:
    out = []
    for o, x, y in zip(origin.to_pylist(), i.to_pylist(), j.to_pylist()):
        if o is None or x is None or y is None or not h3c.is_valid_cell(o):
            out.append(None)
            continue
        try:
            out.append(h3c.local_ij_to_cell(o, x, y))
        except Exception:
            out.append(None)
    return pa.array(out, _I64)


# --------------------------------------------------------- compact (array-level)


@arrow_udf(_ARR_I64_SPARK)
def h3_compact_cells(cells: pa.Array) -> pa.Array:
    """D3: compact one array of cells per row (h3ron-polars
    .../chunkedarray/compact.rs:7-21) via the numpy hierarchy kernel.
    Frame-level compaction lives in operators.compact (groupBy +
    this kernel)."""
    from h3ron_spark.h3core import vectorized as V

    flat, lengths, row_valid = _np_list_col(cells)
    bounds = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=bounds[1:])
    outs = [
        V.compact_cells_np(flat[bounds[i] : bounds[i + 1]])
        if row_valid[i]
        else np.empty(0, dtype=np.int64)
        for i in range(len(lengths))
    ]
    counts = np.array([o.size for o in outs], dtype=np.int64)
    values = (
        np.concatenate(outs) if outs else np.empty(0, dtype=np.int64)
    )
    return _list_result(values, counts, row_valid)


@arrow_udf(_ARR_I64_SPARK)
def h3_uncompact_cells(cells: pa.Array, res: pa.Array) -> pa.Array:
    from h3ron_spark.h3core import vectorized as V

    flat, lengths, row_valid = _np_list_col(cells)
    r, rv = _np_col(res)
    row_valid = row_valid & rv & (r >= 0) & (r <= 15)
    bounds = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=bounds[1:])
    outs = []
    for i in range(len(lengths)):
        if not row_valid[i]:
            outs.append(np.empty(0, dtype=np.int64))
            continue
        kids, _ = V.cell_to_children_batch(
            flat[bounds[i] : bounds[i + 1]], int(r[i])
        )
        outs.append(kids)
    counts = np.array([o.size for o in outs], dtype=np.int64)
    values = (
        np.concatenate(outs) if outs else np.empty(0, dtype=np.int64)
    )
    return _list_result(values, counts, row_valid)


# ------------------------------------------------------- geometry dispatch


@arrow_udf(_ARR_I64_SPARK)
def h3_geometry_to_cells(wkt: pa.Array, res: pa.Array) -> pa.Array:
    """G2: ToH3Cells dispatch over any WKT geometry type
    (h3ron/src/to_h3.rs:24-127). NULL on parse failure."""
    from h3ron_spark.h3core.wkt import geometry_to_cells

    out = []
    for w, r in zip(wkt.to_pylist(), res.to_pylist()):
        if w is None or r is None or not 0 <= r <= 15:
            out.append(None)
            continue
        try:
            out.append(geometry_to_cells(w, r))
        except Exception:
            out.append(None)
    return pa.array(out, _ARR_I64)


@arrow_udf(_ARR_I64_SPARK)
def h3_polygon_to_cells(wkt: pa.Array, res: pa.Array) -> pa.Array:
    """G1: centroid-in polyfill of a WKT POLYGON/MULTIPOLYGON
    (to_h3.rs:213-247)."""
    from h3ron_spark.h3core.regions import polygon_to_cells
    from h3ron_spark.h3core.wkt import parse_wkt

    out = []
    for w, r in zip(wkt.to_pylist(), res.to_pylist()):
        if w is None or r is None or not 0 <= r <= 15:
            out.append(None)
            continue
        try:
            kind, payload = parse_wkt(w)
            if kind == "polygon":
                outer, holes = payload
                out.append(polygon_to_cells(outer, r, holes))
            elif kind == "multipolygon":
                acc = set()
                for outer, holes in payload:
                    acc.update(polygon_to_cells(outer, r, holes))
                out.append(sorted(acc))
            else:
                out.append(None)
        except Exception:
            out.append(None)
    return pa.array(out, _ARR_I64)


@arrow_udf(_ARR_I64_SPARK)
def h3_line_to_cells(wkt: pa.Array, res: pa.Array) -> pa.Array:
    """G3: ordered cell trace of a WKT LINESTRING (lib.rs:112-132)."""
    from h3ron_spark.h3core.regions import line_to_cells
    from h3ron_spark.h3core.wkt import parse_wkt

    out = []
    for w, r in zip(wkt.to_pylist(), res.to_pylist()):
        if w is None or r is None or not 0 <= r <= 15:
            out.append(None)
            continue
        try:
            kind, payload = parse_wkt(w)
            out.append(line_to_cells(payload, r) if kind == "linestring" else None)
        except Exception:
            out.append(None)
    return pa.array(out, _ARR_I64)


@arrow_udf(T.StringType())
def h3_cells_to_linestring_wkt(cells: pa.Array) -> pa.Array:
    """P8 to_linestring: centroid linestring of an ordered cell path
    (h3ron-graph/src/algorithm/path.rs:118-150)."""
    out = []
    for arr in cells.to_pylist():
        if arr is None or len(arr) == 0:
            out.append(None)
            continue
        pts = [_latlng(c) for c in arr]
        if any(p is None for p in pts):
            out.append(None)
            continue
        out.append(
            "LINESTRING ("
            + ", ".join(f"{ln:.9f} {la:.9f}" for la, ln in pts)
            + ")"
        )
    return pa.array(out, _STR)


# ------------------------------------------------------------ string parse

# nom-style float: optional sign, digits with optional fraction (or bare
# fraction), optional exponent (cell.rs:425-437 uses nom's `double`)
_COORD_NUM = r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?"
# "x<sep>y<sep>res" with "," or ";" separators, optional ascii blanks,
# 1-2 digit resolution; trailing characters are ignored exactly like the
# reference's nom parser (it discards the unparsed rest of the string)
_COORD_RE = (
    rf"^\s*({_COORD_NUM})\s*[,;]\s*({_COORD_NUM})\s*[,;]\s*(\d{{1,2}})"
)


def h3_parse(s) -> Column:
    """Full S28 ``FromStr`` parse (`h3ron/src/cell.rs:375-397`): hex
    form, then decimal u64, then the ``"x,y,resolution"`` coordinate
    form (x = longitude, y = latitude, cell.rs:425-437 via
    ``from_coordinate``); NULL when no form yields a valid cell.

    The numeric forms are pure JVM expressions
    (:func:`h3ron_spark.functions.bits.h3_parse_numeric`); the
    coordinate form routes the extracted (lat, lng, res) through the
    vectorized encode kernel — rows that already matched a numeric
    form reach the kernel as NULL coordinates and cost nothing.
    """
    from h3ron_spark.functions import bits as B

    t = F.trim(_c_str(s))
    num = B.h3_parse_numeric(t)
    matched = t.rlike(_COORD_RE)
    x = F.regexp_extract(t, _COORD_RE, 1).try_cast("double")  # longitude
    y = F.regexp_extract(t, _COORD_RE, 2).try_cast("double")  # latitude
    r = F.regexp_extract(t, _COORD_RE, 3).try_cast("int")
    res_ok = matched & r.isNotNull() & (r <= 15)
    coord = h3_latlng_to_cell(
        F.when(res_ok & num.isNull(), y),
        F.when(res_ok & num.isNull(), x),
        F.when(res_ok & num.isNull(), r),
    )
    return F.coalesce(num, coord)


def _c_str(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("string")
