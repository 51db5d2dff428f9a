"""Test-data loading + the documented deterministic geo projection.

The driver's TPC-H-ish tables (TESTDATA.md) carry no coordinates, so
H3 workloads derive lng/lat from the ``events`` table's integer
columns via a fixed projection (FIXTURES.md "Driver testdata"):

    lng = (event_id % 36000) / 100.0 - 180.0          in [-180, 180)
    lat = ((user_id * 7 + event_id) % 16000) / 100.0 - 80.0   in [-80, 80)

Both engines (Spark and the DuckDB oracle) can evaluate this exactly
(integer modulo on non-negative ints, then exact /100 double), which
keeps t2 value-hash checks deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # the test tables store TIMESTAMP(MICROS); a TIMESTAMP(NANOS)
        # file from outside is rejected by Spark unless nanos are read
        # back as long (epoch nanoseconds, see event_epoch_sec).
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def event_epoch_sec(ev: DataFrame, ts_col: str = "ts") -> Column:
    """Epoch seconds from the events ``ts`` column, whichever way this
    session read it: epoch-nanos BIGINT (nanosAsLong session) or
    TIMESTAMP/TIMESTAMP_NTZ. Matches DuckDB ``epoch_ns(ts) // 1e9``.
    """
    if dict(ev.dtypes).get(ts_col) == "bigint":
        return F.expr(f"CAST({ts_col} DIV 1000000000 AS LONG)")
    return F.unix_timestamp(F.col(ts_col))


def derived_lng(event_id="event_id") -> Column:
    return (F.col(event_id) % 36000) / 100.0 - 180.0


def derived_lat(user_id="user_id", event_id="event_id") -> Column:
    return ((F.col(user_id) * 7 + F.col(event_id)) % 16000) / 100.0 - 80.0


DERIVED_LNG_SQL = "((event_id % 36000) / 100.0 - 180.0)"
DERIVED_LAT_SQL = "(((user_id * 7 + event_id) % 16000) / 100.0 - 80.0)"


def events_with_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .withColumn("lng", derived_lng())
        .withColumn("lat", derived_lat())
    )
