"""Deterministic fixed-point PageRank over a weighted edge frame.

Beyond-reference surface: the reference's graph stack is shortest-path
only (``/root/reference/h3ron-graph/src/algorithm/``); a whole-graph
centrality measure is the natural next ask on the same H3 edge graphs
(cell transition graphs, routing graphs), implemented here the way a
100-TB link graph needs it:

- every iteration is ONE shuffled hash join (ranks x edges on ``src``)
  followed by ONE hash aggregate on ``dst`` — no driver-side rank
  state, nothing collected but the node-count scalar that sizes the
  teleport constant;
- the out-weight-annotated edge table and node frame are materialized
  ONCE with ``localCheckpoint``. Its scan drops the partitioning, so
  the small rank frames re-shuffle every iteration (~2
  exchanges/iteration), yet it is the fastest measured option at
  single-node scale (sf0.1 min-of-4 A/B: 2.11 s localCheckpoint vs
  3.41 s partitioning-preserving ``cache()`` vs 3.94 s
  exchange-reuse with no materialization);
- ALL arithmetic is 64-bit integer fixed-point (``scale`` = 1e12 by
  default): contributions are ``(pr * w) div wsum`` floor-divisions,
  damping is ``(85 * s) div 100``, teleport is an integer literal.
  BIGINT sums are exact and order-independent, so the result is
  bit-identical across engines, partition layouts, and task retries —
  which is what lets a DuckDB oracle unroll the identical iterations
  in SQL and hash-match (floating-point PageRank cannot make that
  promise: double summation order varies per shuffle).

Semantics: damped PageRank (d = 0.85) on a weighted digraph; a node's
rank splits over its out-edges proportionally to edge weight.
Dangling-node mass is dropped (the standard "weak" variant) — a
deterministic choice both engines share. Floor rounding loses at most
one 1e-12 unit per edge per iteration — 4+ orders of magnitude below
any rank gap of interest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DAMP_NUM, DAMP_DEN = 85, 100


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iterations: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed ``iterations`` of integer PageRank; returns ``(node, pr)``
    with ``pr`` in units of ``1/scale``.

    ``edges`` must be pre-aggregated (one row per (src, dst)); weights
    must be positive BIGINT-safe integers with per-src totals small
    enough that ``scale * wsum`` fits in 64 bits.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")

    wsums = edges.groupBy(src).agg(F.sum(weight).alias("_wt"))
    e = (
        edges.join(wsums, src)
        .select(
            F.col(src).alias("_src"),
            F.col(dst).alias("_dst"),
            F.col(weight).cast("long").alias("_w"),
            F.col("_wt").cast("long").alias("_wt"),
        )
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # the ONLY driver-side value: |V|, needed to size the integer
    # teleport constant baked into the plan (same pattern as
    # kmeans_fit collecting its bounded model state)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr", F.lit(0).cast("long"))
    tele = (scale * (DAMP_DEN - DAMP_NUM) // DAMP_DEN) // n
    ranks = nodes.select("node", F.lit(scale // n).cast("long").alias("pr"))
    for _ in range(iterations):
        contrib = ranks.join(e, ranks["node"] == e["_src"]).select(
            F.col("_dst").alias("node"),
            F.expr("(pr * _w) div _wt").alias("_c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("_c").alias("_s"))
        ranks = nodes.join(sums, "node", "left").select(
            "node",
            (
                F.lit(tele)
                + F.expr(f"({DAMP_NUM} * coalesce(_s, 0L)) div {DAMP_DEN}")
            ).alias("pr"),
        )
    return ranks


def transition_edges(
    df: DataFrame,
    node_col: str,
    order_col: str,
    partition_col: str,
) -> DataFrame:
    """(src, dst, w) edge frame from per-partition ordered node
    sequences (consecutive-pair transitions, self-loops dropped) —
    the standard way an event stream becomes a PageRank-able graph.
    One window pass + one aggregate."""
    w = Window.partitionBy(partition_col).orderBy(order_col)
    return (
        df.select(
            F.col(node_col).alias("src"),
            F.lead(node_col).over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
