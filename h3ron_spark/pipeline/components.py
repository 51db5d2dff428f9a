"""Connected components over near-duplicate pair graphs.

Dedup at cluster granularity: MinHash/SimHash/embedding candidate
pairs form an undirected graph whose connected components are the
duplicate *families*; keeping one canonical document per family (the
minimum id — deterministic) is the standard corpus-dedup contract
(same rule as the exact-dedup keep-first and the reference's
deterministic min-label clustering in
h3ron/src/algorithm/cell_clusters.rs:12-116, which our
operators/clusters.py mirrors for cells).

Spark-first design (same shape as operators/clusters.py, generalized
to an arbitrary id pair frame):

- small graphs (bounded edge count) run a driver-side union-find over
  one Arrow collect — the per-round Spark job overhead dominates at
  fixture scale, and duplicate-pair graphs are tiny relative to the
  corpus (only docs with >=1 near-dup appear);
- larger graphs use iterative min-label propagation WITH pointer
  jumping (label-of-label each round), so rounds are O(log diameter).
  Each round is a join + min-agg shuffling on the id — the same
  partitioning every round, which AQE reuses. Near-dup families have
  tiny diameter in practice (2-3 rounds); the log bound protects the
  adversarial chain case.

At 100 TB: the pair graph is orders of magnitude smaller than the
corpus (it only contains duplicated docs), but it can still exceed
driver memory — the distributed path never collects labels, and
convergence is decided with a count() on the changed-label frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_UNION_FIND_EDGE_LIMIT = 2_000_000


def label_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    edge_limit: int = _UNION_FIND_EDGE_LIMIT,
) -> DataFrame:
    """Label connected components of an undirected pair graph.

    Returns (id, component) for every id appearing in ``pairs``;
    ``component`` is the minimum id of the component (deterministic
    label, stable under re-partitioning).
    """
    if max_iter < 1:
        # a zero-round run would skip the convergence guard and
        # return identity labels — the silent splitting it exists for
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    dtypes = dict(pairs.dtypes)
    id_type = dtypes[id_a]
    if dtypes[id_b] != id_type:
        # the union-find path declares both output columns as id_a's
        # type while the distributed path unions the raw columns — a
        # mixed-type pair graph would make the two paths disagree on
        # schema, so reject it up front
        raise ValueError(
            f"id columns must share a type: {id_a} is {id_type}, "
            f"{id_b} is {dtypes[id_b]} — cast one side first"
        )
    sym = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )

    # guarded-bounded probe: pull up to limit+1 edges in ONE action —
    # if under the limit we already hold the edge list for union-find.
    # The pair frame is persisted first so a beyond-limit graph does
    # not pay its (possibly expensive — e.g. the full MinHash
    # pipeline) upstream twice: once for the probe, once for the
    # distributed path's edge materialization.
    pairs = pairs.persist()
    try:
        epdf = pairs.select(id_a, id_b).limit(edge_limit + 1).toPandas()
        if len(epdf) > edge_limit:
            edges = sym.localCheckpoint(eager=True)
    finally:
        pairs.unpersist()
    if len(epdf) <= edge_limit:
        spark = pairs.sparkSession
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(epdf[id_a].tolist(), epdf[id_b].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id keeps the deterministic label rule
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        from h3ron_spark.util import local_df

        rows = [(x, find(x)) for x in parent]
        # preserve the caller's id type (string fingerprints work the
        # same as long ids — both paths must agree on the schema)
        return local_df(spark, rows, f"id {id_type}, component {id_type}")

    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    changed = 0
    for _ in range(max_iter):
        prop = (
            edges.join(
                labels.select(F.col("id").alias("_d"), "component"),
                edges["dst"] == F.col("_d"),
            )
            .select(F.col("src").alias("id"), "component")
            .unionByName(labels)
            .groupBy("id")
            .agg(F.min("component").alias("_new"))
        )
        # pointer jumping: take the label OF my label too (labels are
        # member ids, so the target row exists) — halves the label-tree
        # height per round.
        tgt = prop.select(F.col("id").alias("_t"), F.col("_new").alias("_tn"))
        jump = (
            prop.join(tgt, prop["_new"] == tgt["_t"], "left")
            .select("id", F.least("_new", "_tn").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            jump.join(labels.withColumnRenamed("component", "_old"), "id")
            .filter(F.col("component") != F.col("_old"))
            .count()
        )
        labels = jump
        if changed == 0:
            break
    if changed != 0:
        # silent truncation would split one true component into
        # several "canonical" labels — make the failure loud instead
        raise RuntimeError(
            f"label_components did not converge within max_iter="
            f"{max_iter} pointer-jumping rounds ({changed} labels "
            "still improving); raise max_iter — rounds needed is "
            "O(log2(component diameter))"
        )
    return labels


def dedup_cluster_members(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """(id, cluster, is_canonical) per duplicated document: cluster =
    min id of the near-dup family, canonical = the kept copy."""
    comps = label_components(pairs, id_a, id_b)
    return comps.select(
        F.col("id"),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )
