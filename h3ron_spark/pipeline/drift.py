"""Batch-over-batch data drift report, composed from the sketches.

The training-data ops problem this serves: every ingest batch (a new
crawl slice, a re-run of an upstream job) should be compared against
the previous batch BEFORE it enters the corpus — row counts, null
rates, distinct cardinalities, and value distributions all drift, and
a 100-TB pipeline cannot afford exact recomputation for monitoring.
Every metric here is a bounded-state sketch from the existing family
(`sketch.py`): HLL for distinct counts, the HDR log-histogram for
quantiles — one scan per side, kilobytes of state, and all outputs
integer-scaled so the report is hash-stable cross-engine (the same
discipline as the sketch queries themselves).

Output shape: one LONG row per (metric, column) with both sides and
the delta — the shape a monitoring sink (threshold alert, dashboard)
consumes directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from h3ron_spark.pipeline.sketch import (
    hdr_histogram,
    hdr_quantiles,
    hll_distinct,
)


def drift_report(
    df_a: DataFrame,
    df_b: DataFrame,
    numeric_cols: list[str],
    string_cols: list[str],
    p: int = 8,
    sub_bits: int = 5,
) -> DataFrame:
    """Compare two batches column-wise. Returns
    (metric, column, batch_a, batch_b, delta) — all BIGINT:

      n_rows            row counts
      null_rate_e4      per column, nulls per 10k rows
      hll_distinct      per string column, floored HLL estimate
      p50/p90/p99       per numeric column, HDR bucket lower bounds

    Both inputs are tagged and unioned so every metric family is ONE
    aggregation over the combined frame (each side keeps bounded
    sketch state); the report frame is a few dozen rows."""
    tagged = df_a.withColumn("_side", F.lit("a")).unionByName(
        df_b.withColumn("_side", F.lit("b"))
    )

    def widen(metrics: DataFrame, metric_col, column_col, value_col):
        """(side, value) long frame -> (metric, column, a, b, delta)."""
        return (
            metrics.groupBy(metric_col.alias("metric"), column_col.alias("column"))
            .pivot("_side", ["a", "b"])
            .agg(F.first(value_col))
            .select(
                "metric",
                "column",
                F.coalesce("a", F.lit(0)).cast("long").alias("batch_a"),
                F.coalesce("b", F.lit(0)).cast("long").alias("batch_b"),
                (
                    F.coalesce("b", F.lit(0)) - F.coalesce("a", F.lit(0))
                ).cast("long").alias("delta"),
            )
        )

    reports = []

    # `counts` is checkpointed (a 2-row frame) because it feeds one
    # widen() per metric row-family below and Catalyst does not CSE
    # subtrees — without it every null_rate/n_rows widen re-ran the
    # full corpus count aggregation (pipeline_drift_report's plan
    # carried 14 parquet scans of the documents table for a 12-row
    # report; 6 of them were this frame). The single-reference HLL
    # and HDR frames stay lazy: checkpointing them too measured
    # SLOWER locally (it serializes the metric families into
    # back-to-back jobs where one job overlaps their scans) for no
    # scan reduction. Dynamic-allocation caveat: see the package
    # docstring.
    counts = tagged.groupBy("_side").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.floor(
                F.sum(F.col(c).isNull().cast("long")) * 10000
                / F.count(F.lit(1))
            ).alias(f"_null_{c}")
            for c in numeric_cols + string_cols
        ],
    ).localCheckpoint()
    reports.append(
        widen(counts, F.lit("n_rows"), F.lit("*"), F.col("n"))
    )
    for c in numeric_cols + string_cols:
        reports.append(
            widen(counts, F.lit("null_rate_e4"), F.lit(c), F.col(f"_null_{c}"))
        )

    for c in string_cols:
        hll = hll_distinct(tagged, c, ["_side"], p=p).withColumn(
            "est", F.floor("hll_est").cast("long")
        )
        reports.append(
            widen(hll, F.lit("hll_distinct"), F.lit(c), F.col("est"))
        )

    for c in numeric_cols:
        hist = hdr_histogram(tagged, c, ["_side"], sub_bits=sub_bits)
        qs = hdr_quantiles(hist, ["_side"], (0.5, 0.9, 0.99), sub_bits)
        qs = qs.withColumn(
            "metric",
            F.concat(F.lit("p"), (F.col("q") * 100).cast("int")),
        )
        reports.append(
            widen(qs, F.col("metric"), F.lit(c), F.col("q_low"))
        )

    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("metric", "column")
