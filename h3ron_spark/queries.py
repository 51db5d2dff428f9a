"""Query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus, where SQL-expressible, an
exact DuckDB oracle string over the same parquet tables.

This module is the single source of truth consumed by
``__spark_entry__.py`` (driver correctness gate) and ``bench.py``.

Conventions:
- every computed column is aliased identically in Spark and SQL;
- float aggregates are rounded (2/4/6 dp) on BOTH sides;
- LIMIT/top-k queries carry fully deterministic tie-breaks.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from h3ron_spark.functions import bits as B
from h3ron_spark.pipeline import dedup as DD
from h3ron_spark.pipeline import similarity as SIM
from h3ron_spark.pipeline import text as TX
from h3ron_spark.testdata import event_epoch_sec as _event_epoch_sec
from h3ron_spark.testdata import load

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, dict] = {}


def register(name: str, oracle: str | None = None, requires: tuple = ()):
    """Register ``fn`` as query ``name``. ``requires`` lists the paths
    of external inputs the query reads; while one is missing the query
    is reported by ``unavailable()`` instead of ``queries()``."""

    def deco(fn: QueryFn):
        REGISTRY[name] = {"fn": fn, "oracle": oracle, "requires": requires}
        return fn

    return deco


# =====================================================================
# Relational core (scan/filter/agg/join/window/top-k) — SURVEY §2.7
# =====================================================================

@register(
    "rel_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                            AS sum_qty,
           round(sum(l_extendedprice), 2)                       AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc_price,
           round(avg(l_quantity), 4)                            AS avg_qty,
           round(avg(l_discount), 4)                            AS avg_disc,
           count(*)                                             AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one scan, partial+final hash agg; at 100 TB this
    is shuffle-light (9 groups) and the shipdate filter pushes to parquet."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "rel_pricing_cube",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*)                  AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def rel_pricing_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets coverage (CUBE) — beyond the reference's flat
    groupBys (SURVEY §2.7 notes it has none). Spark lowers cube() to
    ONE Expand + hash aggregate: a single scan computes all four
    grouping sets, partial-agg'd map-side like any groupBy. NULL
    grouping markers are coalesced to 'ALL' (the grouping columns are
    non-null in the data) so the cross-engine compare is
    unambiguous."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


@register(
    "rel_top_revenue_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def rel_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape. customer is the small dim — broadcast it so the
    only shuffle is the orderkey aggregation; deterministic top-k."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "rel_customer_order_rank",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             round(o_totalprice, 2) AS totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def rel_customer_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-N per key — one shuffle on the partition key."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rnk",
        )
    )


@register(
    "rel_nation_order_stats",
    oracle="""
    SELECT n.n_name,
           count(*)                          AS n_orders,
           round(sum(o.o_totalprice), 2)     AS total_value,
           round(min(o.o_totalprice), 2)     AS min_value,
           round(max(o.o_totalprice), 2)     AS max_value
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def rel_nation_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two broadcast joins (nation: 25 rows, customer: small dim) then
    a 25-group agg — at 100 TB the fact scan never shuffles pre-agg."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
            F.round(F.min("o_totalprice"), 2).alias("min_value"),
            F.round(F.max("o_totalprice"), 2).alias("max_value"),
        )
    )


# =====================================================================
# H3 bit-math layer (S4/S6/S8/S16/S17/S26/S28, D1) — pure SQL both sides
# =====================================================================

_BITS_CELL_SQL = """
      WITH base AS (
        SELECT event_id, user_id,
               CASE WHEN user_id % 20 = 0 THEN 38
                    ELSE 25 + (user_id % 13) END AS b,
               CASE WHEN user_id % 20 = 0 THEN 0 ELSE event_id % 7 END AS d1,
               CASE WHEN user_id % 20 = 0 THEN 0 ELSE user_id % 7 END AS d2,
               CASE WHEN user_id % 20 = 0 THEN 0
                    ELSE (event_id + user_id) % 7 END AS d3
        FROM events
      ), built AS (
        SELECT event_id, user_id,
               ((1::BIGINT << 59) | (3::BIGINT << 52) | (b::BIGINT << 45)
                | (d1::BIGINT << 42) | (d2::BIGINT << 39) | (d3::BIGINT << 36)
                | ((1::BIGINT << 36) - 1)) AS cell0
        FROM base
      ), cells AS (
        SELECT event_id,
               CASE WHEN user_id % 31 = 0
                    THEN cell0 | (7::BIGINT << 39)
                    ELSE cell0 END AS cell
        FROM built
      )
"""

# Pentagon base cells as a SQL list (public H3 spec).
_PENT_SQL = "(4,14,24,38,49,58,63,72,83,97,107,117)"


@register(
    "h3_bits_accessors",
    oracle=_BITS_CELL_SQL
    + f"""
      SELECT event_id, cell,
             ((cell >> 52) & 15)::INT  AS res,
             ((cell >> 45) & 127)::INT AS base_cell,
             ((cell | ((1::BIGINT << 39) - 1)) & {~(15 << 52)}) | (2::BIGINT << 52)
                                       AS parent2,
             ((cell - ((1::BIGINT << 36) - 1) + ((1::BIGINT << 27) - 1))
               & {~(15 << 52)}) | (6::BIGINT << 52)
                                       AS child6,
             ((cell >> 39) & 7)::INT   AS digit2,
             (((cell >> 45) & 127) IN {_PENT_SQL}
               AND (cell & ((1::BIGINT << 45) - 1)) = ((1::BIGINT << 36) - 1))
                                       AS is_pent,
             (((cell >> 42) & 7) <> 7 AND ((cell >> 39) & 7) <> 7
               AND ((cell >> 36) & 7) <> 7) AS is_valid
      FROM cells
    """,
)
def h3_bits_accessors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize deterministic res-3 cells from events ints (valid by
    construction except deliberately corrupted rows), then exercise
    every bit accessor. All JVM-side expressions — this is the proof
    that the hot-path H3 layer needs no UDFs at all."""
    ev = load(spark, sf_dir, "events")
    pent = F.col("user_id") % 20 == 0
    b = F.when(pent, F.lit(38)).otherwise(25 + F.col("user_id") % 13)
    d1 = F.when(pent, F.lit(0)).otherwise(F.col("event_id") % 7)
    d2 = F.when(pent, F.lit(0)).otherwise(F.col("user_id") % 7)
    d3 = F.when(pent, F.lit(0)).otherwise((F.col("event_id") + F.col("user_id")) % 7)
    cell0 = B.h3_build_cell(b, [d1, d2, d3], 3)
    cell = F.when(F.col("user_id") % 31 == 0, cell0.bitwiseOR(F.lit(7 << 39))).otherwise(
        cell0
    )
    return ev.select("event_id", cell.alias("cell")).select(
        "event_id",
        "cell",
        B.h3_get_resolution("cell").alias("res"),
        B.h3_get_base_cell("cell").alias("base_cell"),
        B.h3_to_parent("cell", 2).alias("parent2"),
        B.h3_to_center_child("cell", 6).alias("child6"),
        B.h3_get_index_digit("cell", 2).alias("digit2"),
        B.h3_is_pentagon("cell").alias("is_pent"),
        B.h3_is_valid_cell("cell").alias("is_valid"),
    )


@register(
    "h3_parent_rollup",
    oracle=_BITS_CELL_SQL
    + f"""
      SELECT parent1, count(*) AS n_cells, count(DISTINCT cell) AS n_distinct
      FROM (
        SELECT cell,
               ((cell | ((1::BIGINT << 42) - 1)) & {~(15 << 52)}) | (1::BIGINT << 52)
                 AS parent1
        FROM cells
        WHERE ((cell >> 42) & 7) <> 7 AND ((cell >> 39) & 7) <> 7
          AND ((cell >> 36) & 7) <> 7
      )
      GROUP BY parent1
    """,
)
def h3_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical H3 rollup: filter valid -> parent -> aggregate.
    Parent extraction is bit math, so Catalyst keeps the whole pipeline
    in one codegen stage (D6 + S6 + §2.7 aggregate parity).

    count + countDistinct in one agg would plan an Expand that doubles
    every row through the wide shuffle; pre-aggregating by
    (parent, cell) instead dedups map-side, so the first shuffle
    carries only distinct pairs and the second is 92 groups."""
    ev = h3_bits_accessors(spark, sf_dir).select("cell", "is_valid")
    pre = (
        ev.filter(F.col("is_valid"))
        .select(B.h3_to_parent("cell", 1).alias("parent1"), "cell")
        .groupBy("parent1", "cell")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return pre.groupBy("parent1").agg(
        F.sum("_n").alias("n_cells"),
        F.count(F.lit(1)).alias("n_distinct"),
    )


# =====================================================================
# Text analysis (language-ID, quality, tokens, fingerprint)
# =====================================================================

_STOP_SQL = "('the','a','of','and','to','in')"


@register(
    "text_document_stats",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks, text
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(list_aggregate(list_transform(toks, x -> length(x)), 'sum')::DOUBLE
                 / len(toks), 4) AS chars_per_token,
           round(len(list_filter(toks, x -> x IN {_STOP_SQL}))::DOUBLE
                 / len(toks), 4) AS stopword_ratio,
           round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS distinct_ratio,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
    FROM t
    """,
)
def text_document_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/quality statistics — single scan, all
    higher-order JVM functions (no Python), columns pruned to (doc_id,
    text) at the parquet reader. The scan is CPU-bound per row, so
    spread the single-file source across cores first."""
    par = spark.sparkContext.defaultParallelism
    docs = load(spark, sf_dir, "documents").repartition(par)
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.char_per_token("text").alias("chars_per_token"),
        TX.stopword_ratio("text").alias("stopword_ratio"),
        TX.distinct_token_ratio("text").alias("distinct_ratio"),
        TX.fingerprint("text").alias("fingerprint"),
    )


@register(
    "text_quality_by_source",
    oracle=rf"""
    WITH t AS (
      SELECT source, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ), q AS (
      SELECT source,
             round(CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END * 0.4
                   + round(len(list_distinct(toks))::DOUBLE / len(toks), 4) * 0.4
                   + (1.0 - round(len(list_filter(toks, x -> x IN {_STOP_SQL}))::DOUBLE
                                  / len(toks), 4)) * 0.2, 4) AS quality
      FROM t
    )
    SELECT source, count(*) AS n_docs,
           round(avg(quality), 4) AS avg_quality,
           round(min(quality), 4) AS min_quality,
           round(max(quality), 4) AS max_quality
    FROM q GROUP BY source
    """,
)
def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score rollup per source — the shape of a corpus audit at
    100 TB: one scan, 20 groups, partial agg everywhere."""
    docs = load(spark, sf_dir, "documents")
    q = docs.select("source", TX.quality_score("text").alias("quality"))
    return q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
        F.round(F.min("quality"), 4).alias("min_quality"),
        F.round(F.max("quality"), 4).alias("max_quality"),
    )


@register(
    "text_lang_id",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ), h AS (
      SELECT doc_id, lang,
             len(list_filter(toks, x -> x IN ('the','a','and','of'))) AS h_en,
             len(list_filter(toks, x -> x IN ('le','la','et','de')))  AS h_fr,
             len(list_filter(toks, x -> x IN ('el','la','y','de')))   AS h_es,
             len(list_filter(toks, x -> x IN ('der','die','und','von'))) AS h_de
      FROM t
    )
    SELECT lang,
           CASE WHEN h_de > greatest(h_en, h_fr, h_es, 0) THEN 'de'
                WHEN h_es > greatest(h_en, h_fr, 0) THEN 'es'
                WHEN h_fr > greatest(h_en, 0) THEN 'fr'
                WHEN h_en > 0 THEN 'en'
                ELSE 'und' END AS lang_guess,
           count(*) AS n_docs
    FROM h GROUP BY lang, lang_guess
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID vs. the labeled lang column —
    confusion-matrix style rollup."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("lang", TX.lang_guess("text").alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# =====================================================================
# Deduplication
# =====================================================================

@register(
    "dedup_exact",
    oracle=r"""
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           min(doc_id) AS keep_id,
           count(*)    AS dup_count
    FROM documents
    GROUP BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash aggregation on the fingerprint. At
    100 TB this is the classic map-side-partial pattern; no Python."""
    return DD.exact_dedup(load(spark, sf_dir, "documents"))


@register(
    "dedup_groups_summary",
    oracle=r"""
    WITH g AS (
      SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             count(*) AS dup_count
      FROM documents GROUP BY fp
    )
    SELECT dup_count, count(*) AS n_groups
    FROM g GROUP BY dup_count
    """,
)
def dedup_groups_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of duplicate-group sizes (corpus health metric)."""
    g = DD.exact_dedup(load(spark, sf_dir, "documents"))
    return g.groupBy("dup_count").agg(F.count(F.lit(1)).alias("n_groups"))


# =====================================================================
# Similarity search (embeddings)
# =====================================================================

@register(
    "ann_topk_cosine",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_vec
      FROM embeddings WHERE vec_id % 50 = 0
    ), c AS (
      SELECT vec_id, embedding::DOUBLE[] AS c_vec FROM embeddings
    ), scored AS (
      SELECT q.query_id, c.vec_id,
             round(list_dot_product(q.q_vec, c.c_vec)
                   / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                      * sqrt(list_dot_product(c.c_vec, c.c_vec))), 6) AS cosine
      FROM c, q
      WHERE c.vec_id <> q.query_id
    )
    SELECT * FROM (
      SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for a broadcast query subset —
    the ANN baseline. Dot products are zip_with/aggregate (JVM)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.brute_force_topk(emb, queries, k=5, query_id_col="query_id")


@register(
    "ann_blocked_exact_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_vec
      FROM embeddings WHERE vec_id % 50 = 0
    ), c AS (
      SELECT vec_id, embedding::DOUBLE[] AS c_vec FROM embeddings
    ), scored AS (
      SELECT q.query_id, c.vec_id,
             round(list_dot_product(q.q_vec, c.c_vec)
                   / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                      * sqrt(list_dot_product(c.c_vec, c.c_vec))), 6) AS cosine
      FROM c, q
      WHERE c.vec_id <> q.query_id
    )
    SELECT * FROM (
      SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def ann_blocked_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-5, scalable plan: numpy-matmul prefilter per Arrow
    batch (BLAS C @ Q.T, margin 2e-6 past the per-batch (k+1)-th
    score) then exact JVM rescoring + 6-dp rounding of the tiny
    candidate set — bit-identical to ann_topk_cosine (the SAME oracle
    pins both) with two linear corpus scans instead of a |corpus| x
    |Q| expression explosion. This is the exact-search scale path;
    ann_topk_cosine stays as the deliberately-quadratic baseline it
    is measured against."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.blocked_exact_topk(emb, queries, k=5, query_id_col="query_id")


@register(
    "embedding_label_centroid_norms",
    oracle="""
    WITH n AS (
      SELECT label, vec_id,
             round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
               AS norm
      FROM embeddings
    )
    SELECT label, count(*) AS n_vecs,
           round(avg(norm), 6) AS avg_norm,
           round(min(norm), 6) AS min_norm,
           round(max(norm), 6) AS max_norm
    FROM n GROUP BY label
    """,
)
def embedding_label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding norm statistics — exercises vector math over
    array<float> without any shuffle beyond the 10-group agg."""
    emb = load(spark, sf_dir, "embeddings")
    n = emb.select(
        "label", "vec_id", F.round(SIM.l2_norm("embedding"), 6).alias("norm")
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("norm"), 6).alias("avg_norm"),
        F.round(F.min("norm"), 6).alias("min_norm"),
        F.round(F.max("norm"), 6).alias("max_norm"),
    )


@register(
    "text_token_counts",
    oracle=r"""
    SELECT source,
           count(*) AS n_docs,
           sum(len(string_split_regex(trim(text), '\s+')))::BIGINT
             AS total_ws_tokens,
           sum(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')))::BIGINT
             AS total_bpe_tokens,
           round(avg(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))), 4)
             AS avg_bpe_tokens
    FROM documents
    GROUP BY source
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (training-pipeline ops): whitespace
    tokens and the BPE-pre-tokenizer-shaped regex split, aggregated
    per source. Both are single-pass JVM regex expressions — the scan
    never leaves codegen, and the 4-group agg is map-side partial."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count("text")).alias("total_ws_tokens"),
        F.sum(TX.bpe_ish_token_count("text")).alias("total_bpe_tokens"),
        F.round(F.avg(TX.bpe_ish_token_count("text")), 4).alias(
            "avg_bpe_tokens"
        ),
    )


# =====================================================================
# String form (S28), set algebra (H3Treemap parity), sessionization
# =====================================================================

_VALID_SQL = (
    "((cell >> 42) & 7) <> 7 AND ((cell >> 39) & 7) <> 7"
    " AND ((cell >> 36) & 7) <> 7"
)


@register(
    "h3_string_roundtrip",
    oracle=_BITS_CELL_SQL
    + f"""
      SELECT event_id, cell,
             printf('%x', cell) AS cell_hex,
             cell               AS parsed,
             (cell = cell)      AS roundtrip_ok,
             CASE WHEN {_VALID_SQL} THEN cell END AS parsed_dec,
             CASE WHEN {_VALID_SQL} THEN cell END AS parsed_coord
      FROM cells
    """,
)
def h3_string_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S28 string forms (`h3ron/src/cell.rs:342-437`): canonical
    lowercase-hex format/parse (pure JVM string expressions), plus the
    reference's two extra ``FromStr`` forms — decimal u64
    (cell.rs:387-389) and ``"x,y,resolution"`` (cell.rs:391-397,
    via the vectorized encode kernel) — each proven lossless per-row.
    The oracle emits the identity for the parsed columns (guarded by
    cell validity for the validating forms) — the Spark side genuinely
    formats and re-parses every row."""
    from h3ron_spark.functions import geo as G

    cells = h3_bits_accessors(spark, sf_dir).select("event_id", "cell")
    s = B.h3_to_string("cell")
    dec_s = F.col("cell").cast("string")
    ll = G.h3_cell_to_latlng("cell")
    coord_s = F.format_string(
        "%.12f,%.12f,%d", ll["lng"], ll["lat"], B.h3_get_resolution("cell")
    )
    return cells.select(
        "event_id",
        "cell",
        s.alias("cell_hex"),
        B.h3_from_string(s).alias("parsed"),
        (B.h3_from_string(s) == F.col("cell")).alias("roundtrip_ok"),
        B.h3_parse_numeric(dec_s).alias("parsed_dec"),
        G.h3_parse(coord_s).alias("parsed_coord"),
    )


@register(
    "h3_set_ops",
    oracle=_BITS_CELL_SQL
    + f""",
      valid AS (SELECT event_id, cell FROM cells WHERE {_VALID_SQL}),
      a AS (SELECT DISTINCT cell FROM valid WHERE event_id % 2 = 0),
      b AS (SELECT DISTINCT cell FROM valid WHERE event_id % 3 = 0)
      SELECT
        (SELECT count(*) FROM a) AS n_a,
        (SELECT count(*) FROM b) AS n_b,
        (SELECT count(*) FROM (SELECT cell FROM a INTERSECT SELECT cell FROM b))
          AS n_intersect,
        (SELECT count(*) FROM (SELECT cell FROM a EXCEPT SELECT cell FROM b))
          AS n_a_only,
        (SELECT count(*) FROM (SELECT cell FROM a UNION SELECT cell FROM b))
          AS n_union,
        ((SELECT count(*) FROM (SELECT cell FROM a INTERSECT SELECT cell FROM b)) = 0)
          AS is_disjoint,
        ((SELECT count(*) FROM (SELECT cell FROM a EXCEPT SELECT cell FROM b)) = 0)
          AS is_subset_a_of_b,
        ((SELECT count(*) FROM (SELECT cell FROM b EXCEPT SELECT cell FROM a)) = 0)
          AS is_superset_a_of_b
    """,
)
def h3_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3Treemap set algebra (`h3ron/src/collections/treemap/mod.rs:87-99`
    is_disjoint/is_subset/is_superset) over two derived cell sets, via
    native INTERSECT/EXCEPT/UNION DISTINCT. Each leg reduces to a
    one-row count, so the crossJoin of the five legs is trivially
    broadcast; at 100 TB each leg is one shuffle on the cell key."""
    acc = h3_bits_accessors(spark, sf_dir)
    valid = acc.filter(F.col("is_valid")).select("event_id", "cell")
    a = valid.filter(F.col("event_id") % 2 == 0).select("cell").distinct()
    b = valid.filter(F.col("event_id") % 3 == 0).select("cell").distinct()

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(name))

    row = (
        cnt(a, "n_a")
        .crossJoin(cnt(b, "n_b"))
        .crossJoin(cnt(a.intersect(b), "n_intersect"))
        .crossJoin(cnt(a.subtract(b), "n_a_only"))
        .crossJoin(cnt(a.union(b).distinct(), "n_union"))
        .crossJoin(cnt(b.subtract(a), "n_b_only"))
    )
    return row.select(
        "n_a",
        "n_b",
        "n_intersect",
        "n_a_only",
        "n_union",
        (F.col("n_intersect") == 0).alias("is_disjoint"),
        (F.col("n_a_only") == 0).alias("is_subset_a_of_b"),
        (F.col("n_b_only") == 0).alias("is_superset_a_of_b"),
    )


@register(
    "h3_purge_children",
    oracle=_BITS_CELL_SQL
    + f""",
      valid AS (SELECT event_id, cell FROM cells WHERE {_VALID_SQL}),
      pars AS (
        SELECT DISTINCT
               ((cell | ((1::BIGINT << 42) - 1)) & {~(15 << 52)})
                 | (1::BIGINT << 52) AS cell
        FROM valid WHERE event_id % 5 = 0
      ),
      surv AS (
        SELECT cell FROM valid
        WHERE ((cell | ((1::BIGINT << 42) - 1)) & {~(15 << 52)})
                | (1::BIGINT << 52) NOT IN (SELECT cell FROM pars)
        UNION ALL
        SELECT cell FROM pars
      )
      SELECT ((cell >> 52) & 15)::INT AS res,
             count(*) AS n_rows,
             bit_xor(cell) AS checksum
      FROM surv GROUP BY res
    """,
)
def h3_purge_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CompactedCellVec.purge_children parity (SURVEY §1.4,
    compactedcellvec.rs:244-276): parents swallow children. The
    battery's valid cells are unioned with the res-1 parents of every
    5th event's cell; rows whose ancestor is present drop, the
    injected parents survive. The oracle replicates the full ancestor
    semantics in pure SQL (only the res-1 level can match for this
    input — the set holds res-3 and res-1 cells only), aggregated as
    per-resolution row counts + bit_xor checksums."""
    from h3ron_spark.operators.frame import purge_children

    acc = h3_bits_accessors(spark, sf_dir)
    # materialize the battery ONCE: (a) both the valid branch and the
    # parents branch read it (uncheckpointed, the synthesized battery
    # recomputes per branch), and (b) its deep bit-math expression
    # tree otherwise fuses into purge_children's distinct hash
    # aggregate and overflows the JVM's 64 KB generated-method limit
    # (interpreted fallback — correct but the stage loses codegen).
    # Real inputs are plain parquet columns and never hit either.
    valid = (
        acc.filter(F.col("is_valid"))
        .select("event_id", "cell")
        .localCheckpoint()
    )
    pars = (
        valid.filter(F.col("event_id") % 5 == 0)
        .select(B.h3_to_parent("cell", 1).alias("cell"))
        .distinct()
    )
    u = valid.select("cell").unionByName(pars)
    out = purge_children(u, "cell")
    return out.groupBy(
        B.h3_get_resolution("cell").alias("res")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(cell)").alias("checksum"),
    )


@register(
    "rel_event_sessions",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, value,
             epoch_ns(ts) // 1000000000 AS sec
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, value, sec,
             CASE WHEN lag(sec) OVER w IS NULL
                       OR sec - lag(sec) OVER w > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ), sessions AS (
      SELECT user_id, event_id, value, sec,
             (sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                ROWS UNBOUNDED PRECEDING))::BIGINT
               AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           min(sec)            AS session_start,
           count(*)            AS n_events,
           max(sec) - min(sec) AS duration_s,
           round(sum(value), 2) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def rel_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min timeout): lag + running-sum
    windows then a per-session agg — the P15 consecutive-pair idiom
    (`h3ron/src/iter/edge.rs:87-140` modernized per SURVEY §2.7) on the
    events timeline. One shuffle on user_id serves both windows AND the
    final agg (same partitioning, no re-shuffle at 100 TB)."""
    ev = load(spark, sf_dir, "events")
    sec = _event_epoch_sec(ev)
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    prev = F.lag("sec").over(w)
    flagged = ev.select("user_id", "event_id", "value", sec.alias("sec")).withColumn(
        "is_new",
        F.when(prev.isNull() | ((F.col("sec") - prev) > 1800), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("sec").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("sec") - F.min("sec")).alias("duration_s"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "rel_events_asof",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, value,
             epoch_ns(ts) // 1000000000 AS sec
      FROM events
    ), w AS (
      SELECT event_id, user_id, event_type, value, sec,
             last_value(CASE WHEN event_type = 'view' THEN value END
                        IGNORE NULLS) OVER win AS asof_view_value,
             last_value(CASE WHEN event_type = 'view' THEN sec END
                        IGNORE NULLS) OVER win AS vsec
      FROM e
      WINDOW win AS (PARTITION BY user_id ORDER BY sec, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, value, asof_view_value, sec - vsec AS gap_s
    FROM w WHERE event_type = 'purchase'
    """,
)
def rel_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attach to every purchase the most recent
    strictly-earlier view by the same user (ties at equal sec resolve
    by unique event_id order; no prior view -> NULL).

    Spark has no ASOF JOIN; the naive translation is a range
    self-join (quadratic under per-user skew). This is the merge
    idiom instead: both streams interleave in ONE window over
    (user_id, sec, event_id) and `last(..., ignorenulls)` carries the
    latest view forward — a single shuffle + per-partition sort,
    linear at any scale, the same shape Flink/kdb as-of joins lower
    to."""
    ev = load(spark, sf_dir, "events")
    sec = _event_epoch_sec(ev)
    base = ev.select(
        "event_id", "user_id", "event_type", "value", sec.alias("sec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    view_val = F.when(F.col("event_type") == "view", F.col("value"))
    view_sec = F.when(F.col("event_type") == "view", F.col("sec"))
    enriched = base.select(
        "event_id",
        "user_id",
        "event_type",
        "sec",
        "value",
        F.last(view_val, ignorenulls=True).over(w).alias("asof_view_value"),
        F.last(view_sec, ignorenulls=True).over(w).alias("_vsec"),
    )
    return enriched.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "value",
        "asof_view_value",
        (F.col("sec") - F.col("_vsec")).alias("gap_s"),
    )


@register(
    "rel_event_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_ns(ts) // 1000000000 AS sec
      FROM events
    ), v AS (
      SELECT user_id, min(sec) AS t_view
      FROM e WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.sec) AS t_click
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.sec > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.sec) AS t_purchase
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.sec > c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click_after_view,
           (SELECT count(*) FROM p) AS n_purchase_after_click,
           (SELECT CAST(coalesce(sum(p.t_purchase - v.t_view), 0) AS BIGINT)
            FROM p JOIN v ON p.user_id = v.user_id)
             AS total_conversion_s
    """,
)
def rel_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-conversion funnel (view -> click -> purchase, each
    stage strictly after the previous): the canonical product-
    analytics query. Each stage is a groupBy-min plus an equi-join on
    user_id — every stage reuses the same user_id hash partitioning,
    so at 100 TB the chain is ONE logical shuffle reused three times,
    not a per-stage re-shuffle (and never a self-join on raw event
    pairs)."""
    ev = load(spark, sf_dir, "events")
    sec = _event_epoch_sec(ev)
    e = ev.select("user_id", "event_type", sec.alias("sec"))
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("sec") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("sec") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_purchase"))
    )
    conv = p.join(v, "user_id").agg(
        F.coalesce(F.sum(F.col("t_purchase") - F.col("t_view")), F.lit(0))
        .cast("long")
        .alias("total_conversion_s")
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(
            p.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))
        )
    )
    return counts.crossJoin(conv)


@register(
    "rel_event_anomalies",
    oracle="""
    WITH s AS (
      SELECT user_id, count(*) AS n_events,
             round(avg(value), 6)          AS mu,
             round(stddev_samp(value), 6)  AS sigma
      FROM events GROUP BY user_id
    ), z AS (
      SELECT e.user_id, s.n_events,
             abs(e.value - s.mu) / s.sigma AS az
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE s.sigma > 0
    )
    SELECT user_id, n_events,
           CAST(sum(CASE WHEN az > 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies,
           round(max(az), 4) AS max_abs_z
    FROM z GROUP BY user_id, n_events
    """,
)
def rel_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity outlier detection: |z| > 2 events against each
    user's own value distribution (two-pass: moments agg then a
    re-join — both keyed on user_id, one partitioning reused; the
    windowed single-pass variant computes the same thing but holds
    every row in window state, so the agg+join form is the 100-TB
    shape). Adds variance/stddev aggregate coverage to the
    relational checklist; the per-user moments are 6-dp-rounded on
    both engines before any comparison (aggregation order differs
    across engines by ulps)."""
    ev = load(spark, sf_dir, "events")
    # the moments are 6-dp-rounded on BOTH engines (the kmeans model-
    # rounding recipe): avg/stddev partial-agg order differs across
    # engines by ulps, and every downstream compare (az > 2, e4 max)
    # must start from identical doubles
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sigma"),
    )
    z = (
        ev.join(s, "user_id")
        .filter(F.col("sigma") > 0)
        .select(
            "user_id",
            "n_events",
            (F.abs(F.col("value") - F.col("mu")) / F.col("sigma")).alias(
                "az"
            ),
        )
    )
    return z.groupBy("user_id", "n_events").agg(
        F.sum((F.col("az") > 2).cast("int")).cast("long").alias(
            "n_anomalies"
        ),
        F.round(F.max("az"), 4).alias("max_abs_z"),
    )


@register(
    "rel_events_rolling_window",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id,
             epoch_ns(ts) // 1000000000 AS sec, value
      FROM events
    )
    SELECT event_id, user_id,
           count(*) OVER w                    AS n_last_hour,
           round(sum(value) OVER w, 2)        AS value_last_hour
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def rel_events_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed rolling aggregates (the rate-limit / activity-
    feature shape): per event, the count and value-sum of the same
    user's events in the trailing hour BY EVENT TIME — a RANGE frame
    over the epoch seconds, which unlike a ROWS frame is correct
    under bursts (ties at one timestamp all see each other). One
    shuffle on user_id; the frame is evaluated in a single sorted
    pass per partition at any scale."""
    ev = load(spark, sf_dir, "events")
    sec = _event_epoch_sec(ev)
    e = ev.select("event_id", "user_id", sec.alias("sec"), "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 2).alias("value_last_hour"),
    )


def queries() -> dict[str, QueryFn]:
    """Every available query, in registration order."""
    missing = unavailable()
    return {name: e["fn"] for name, e in REGISTRY.items() if name not in missing}


def _load_extra() -> None:
    """Import the extra registry modules exactly once (they register
    themselves into REGISTRY on import)."""
    import h3ron_spark.queries_golden  # noqa: F401
    import h3ron_spark.queries_h3  # noqa: F401


def oracles() -> dict[str, str]:
    missing = unavailable()
    return {
        name: e["oracle"]
        for name, e in REGISTRY.items()
        if e["oracle"] is not None and name not in missing
    }


def unavailable() -> dict[str, str]:
    """{name: reason} for each registered query left out of
    ``queries()`` and ``oracles()`` because an input it requires is
    missing."""
    _load_extra()
    out = {}
    for name, e in REGISTRY.items():
        missing = [p for p in e["requires"] if not os.path.exists(p)]
        if missing:
            out[name] = "required input not found: " + ", ".join(missing)
    return out
