"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design target (and harmless locally):
AQE on (skew-join handling for cell-skewed groupBys — urban hotspots
produce heavy H3 keys), Arrow enabled for every pandas-UDF kernel,
and a shuffle-partition count sized by the caller.
"""

from __future__ import annotations

import os

# NB: top-level on purpose — arrow_udf resolves the ``pa.Array`` type
# hints against this module's globals; a function-local import makes
# the decorator raise UNSUPPORTED_SIGNATURE (see warm_python_workers).
import pyarrow as pa
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "h3ron_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", None)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions by shuffle-INPUT bytes, so a
        # small-input stage whose real work is downstream fanout (a
        # self-join that multiplies rows 50x, an explode, an expensive
        # per-row expression) gets coalesced to 1-3 partitions and runs
        # effectively single-core: the 2.6 MB gram index feeding
        # dedup_editdistance_join's 6.5M-row pair join measured 5.6 s
        # for the join+agg stage at the default 1 MB floor vs 1.15 s
        # uncoalesced (OPTIMIZATION_r11.md). parallelismFirst targets
        # max(total/defaultParallelism, THIS floor), so on any input
        # under ~cores MB the floor is what binds. 64k keeps such
        # stages parallel; big shuffles are unaffected (their
        # total/parallelism quotient dominates the floor at any size
        # that matters, locally or on a 100 TB cluster).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # the test tables store events.ts as TIMESTAMP(MICROS); this
        # keeps TIMESTAMP(NANOS) inputs from outside readable (as long)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4's DataFrame-debugging hook (default ON) captures a
        # Python call site and ships it to the JVM
        # (PySparkCurrentOrigin.set + clear) around EVERY Column/
        # DataFrame API call — measured ~2-3 py4j round trips of pure
        # overhead per call, ~40% of the driver-side plan-construction
        # time of expression-heavy queries (631 -> 388 round trips on
        # one minhash build). It only enriches error messages with
        # user call sites; a query fleet pays it per query, so it is
        # off here. Flip to "true" when debugging a plan error.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-class cache (Janino output). The default 100
        # entries was sized for a session running a handful of query
        # shapes; a query FLEET on one long-lived session (this
        # engine's contract — 83+ distinct bench queries, a Thrift
        # server, a scheduled pipeline) emits far more distinct
        # codegen units (509 for the first 30 bench queries alone),
        # so the LRU cycles completely and EVERY re-execution
        # re-compiles every unit: measured 432 Janino compiles per
        # suite pass at ~11-24 ms each (~5-10 s/pass over 30
        # queries) vs ZERO at a cache that fits (OPTIMIZATION_r12.md
        # A/B). Executors keep per-process caches governed by the
        # same conf, so the fix is cluster-side too. ~1-2k units x
        # O(10 KB) of class metadata is noise next to the 8 g heap.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    warm_python_workers(spark)
    return spark


def warm_python_workers(spark: SparkSession) -> None:
    """Pre-fork the Python UDF worker pool (one tiny Arrow-UDF task per
    core) so the first real kernel stage doesn't pay worker fork +
    module import. On a long-lived cluster the pool amortizes to zero;
    locally it is a fixed ~3 s session-setup cost that would otherwise
    land on whichever query runs first."""
    try:
        from pyspark.sql import functions as F
        from pyspark.sql.functions import arrow_udf
        from pyspark.sql.types import LongType

        @arrow_udf(LongType())
        def _touch(x: pa.Array) -> pa.Array:
            from h3ron_spark.h3core import derive
            from h3ron_spark.h3core import vectorized

            derive.precompute()
            vectorized._luts()
            vectorized._decode_tables()
            return x

        par = spark.sparkContext.defaultParallelism
        (
            spark.range(par, numPartitions=par)
            .select(_touch(F.col("id")))
            .write.format("noop").mode("overwrite").save()
        )
    except Exception as e:  # best-effort; never block session creation
        import sys

        print(
            f"h3ron_spark: python-worker warm-up skipped: {e!r}",
            file=sys.stderr,
        )
