"""Decode of the reference's persisted graph format (LZ4 frame +
bincode PreparedH3EdgeGraph, h3ron-graph/src/io/serde_util.rs) and the
route_germany workload on the committed Germany graph."""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest

from h3ron_spark.sources.refgraph import (
    load_prepared_graph_file,
    lz4_frame_decompress,
)

GERMANY = "/root/reference/data/graph-germany_r7_f64.bincode.lz"

needs_ref = pytest.mark.skipif(
    not os.path.exists(GERMANY), reason="reference data not available"
)


def _frame(blocks: list[tuple[bool, bytes]]) -> bytes:
    """Hand-build an LZ4 frame: FLG=0x60 (v1, independent blocks),
    BD=0x40, dummy HC, then (stored?, payload) blocks."""
    out = bytearray(struct.pack("<I", 0x184D2204))
    out += bytes([0x60, 0x40, 0x82])
    for stored, payload in blocks:
        size = len(payload) | (0x80000000 if stored else 0)
        out += struct.pack("<I", size) + payload
    out += struct.pack("<I", 0)
    return bytes(out)


def test_lz4_stored_block():
    frame = _frame([(True, b"hello world")])
    assert lz4_frame_decompress(frame) == b"hello world"


def test_lz4_compressed_with_overlap_match():
    # token 0x54: 5 literals, match len 4+4=8; offset 1 => run-length
    # expansion of the last literal (the overlap semantics)
    block = bytes([0x54]) + b"abcde" + bytes([0x01, 0x00])
    # final sequence: literals only (token high nibble, no match)
    block += bytes([0x20]) + b"fg"
    frame = _frame([(False, block)])
    assert lz4_frame_decompress(frame) == b"abcde" + b"e" * 8 + b"fg"


def test_lz4_long_distance_match():
    lit = bytes(range(64))
    # 64 literals (15+extension 49), then match len 12 at offset 64
    block = bytes([0xF8, 49]) + lit + bytes([0x40, 0x00])
    frame = _frame([(False, block)])
    assert lz4_frame_decompress(frame) == lit + lit[:12]


@needs_ref
def test_germany_graph_decode_pinned():
    """The committed graph's exact shape: res 7, 312397 directed
    edges over 75041 distinct origin cells, 75043 graph nodes,
    integer weights in [3, 50]."""
    g = load_prepared_graph_file(GERMANY)
    assert g["res"] == 7
    assert len(g["edges"]) == 312397
    assert len(np.unique(g["origins"])) == 75041
    assert g["nodes"][0].shape == (75043,)
    assert float(g["weights"].min()) == 3.0
    assert float(g["weights"].max()) == 50.0
    # every node type is a valid NodeType variant index
    assert set(np.unique(g["nodes"][1]).tolist()) <= {0, 1, 2}


@needs_ref
def test_germany_graph_edges_valid(spark):
    """All decoded edges are valid H3 directed edges whose origin
    bits match the adjacency key they were stored under."""
    import pyspark.sql.functions as F

    from h3ron_spark.functions import bits as B
    from h3ron_spark.sources.refgraph import reference_graph_to_edges

    edges = reference_graph_to_edges(spark, GERMANY)
    assert edges.count() == 312397
    bad = edges.filter(
        ~B.h3_is_valid_directed_edge("edge")
        | (B.h3_edge_origin("edge") != F.col("origin"))
        | F.col("destination").isNull()
    ).count()
    assert bad == 0


@needs_ref
def test_route_germany_pinned(spark):
    """route_germany.rs:27-57 on the real graph: exactly two paths
    (the bench's own assertion), with the engine's deterministic
    costs and path lengths."""
    import math

    from h3ron_spark.graph.algorithms import shortest_path_many_to_many
    from h3ron_spark.h3core import index as ix
    from h3ron_spark.sources.refgraph import reference_graph_to_edges

    edges = reference_graph_to_edges(spark, GERMANY)
    origin = ix.latlng_to_cell(
        math.radians(47.68708804564653), math.radians(9.834909439086914), 7
    )
    emden = ix.latlng_to_cell(
        math.radians(53.3689915114596), math.radians(7.20600128173828), 7
    )
    stralsund = ix.latlng_to_cell(
        math.radians(54.3153216473314), math.radians(13.092269897460938), 7
    )
    rows = shortest_path_many_to_many(
        edges, [origin], [emden, stralsund]
    ).collect()
    got = {
        r["destination"]: (r["cost"], len(r["path_cells"]))
        for r in rows
    }
    assert got == {emden: (1160.0, 363), stralsund: (1330.0, 421)}


@needs_ref
def test_route_germany_contracted_matches_pinned(spark):
    """LongEdge contraction on the real 312k-edge graph: same pinned
    costs and identical fully-expanded path lengths as the
    uncontracted route (the reference's own correctness claim for
    prepared graphs, prepared.rs:260-402)."""
    import math

    from h3ron_spark.graph.algorithms import (
        prepare_routing_graph,
        shortest_path_many_to_many,
    )
    from h3ron_spark.h3core import index as ix
    from h3ron_spark.sources.refgraph import reference_graph_to_edges

    edges = reference_graph_to_edges(spark, GERMANY)
    origin = ix.latlng_to_cell(
        math.radians(47.68708804564653), math.radians(9.834909439086914), 7
    )
    emden = ix.latlng_to_cell(
        math.radians(53.3689915114596), math.radians(7.20600128173828), 7
    )
    stralsund = ix.latlng_to_cell(
        math.radians(54.3153216473314), math.radians(13.092269897460938), 7
    )
    prepared = prepare_routing_graph(edges, contract=True)
    n_shortcuts = len(prepared.value[7][1])
    assert n_shortcuts > 1000  # road graphs are chain-heavy
    rows = shortest_path_many_to_many(
        edges, [origin], [emden, stralsund], prepared=prepared
    ).collect()
    got = {
        r["destination"]: (r["cost"], len(r["path_cells"]))
        for r in rows
    }
    assert got == {emden: (1160.0, 363), stralsund: (1330.0, 421)}
