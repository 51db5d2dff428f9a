"""Training-data pipeline operators (beyond the reference's surface).

Deduplication, similarity search, text analysis, and multimodal-column
plumbing — the operations a large-scale training-data pipeline needs,
designed Spark-first for 100 TB inputs (JVM-side expressions in the
hot path, broadcast/LSH-bucketed joins instead of cross joins).

Lineage-cut convention (dedup.py, sketch.py, drift.py): small derived
frames that are referenced N times are materialized with an eager
``localCheckpoint()`` because Catalyst does not CSE subtrees — each
reference would otherwise re-run the frame's full corpus lineage.
localCheckpoint stores blocks in executor storage WITHOUT the lineage
fallback, so a decommissioned executor loses them (Spark documents it
as unsafe with dynamic allocation). On clusters that decommission
executors mid-query, swap these sites to ``persist()`` +
job-scoped unpersist (the idiom ``dedup.document_features`` carries):
same plan shape and scan count, recoverable blocks, at the cost of
keeping the lineage around. The checkpointed frames are always
metadata-sized (sketches, histograms, band keys — never corpus text),
so either materialization is cheap.
"""
