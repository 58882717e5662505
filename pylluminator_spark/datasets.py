"""Loaders for the driver-generated test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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

# Dimension tables small enough to broadcast at ANY scale factor: they grow
# sub-linearly (region/nation are fixed; part/supplier/customer grow with SF
# but stay << fact tables). At 100 TB, `part` may outgrow the broadcast
# threshold; AQE will then fall back to shuffle join automatically.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts is parquet TIMESTAMP(NANOS). Depending on the session it
    # arrives as bigint epoch-nanos (spark.sql.legacy.parquet.nanosAsLong),
    # TIMESTAMP_NTZ (Spark 4 vanilla read), or TIMESTAMP. Normalize all three
    # to TIMESTAMP_NTZ at microsecond resolution with timezone-independent
    # conversions so every downstream query (and the DuckDB oracle, which sees
    # the same column as a naive TIMESTAMP) observes identical wall-clock
    # values no matter which session configuration loaded the table.
    if name == "events":
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            # `div` keeps the arithmetic integral: `/` would promote the
            # epoch-nanos bigint (~1.7e18 > 2^53) to double and can floor
            # off by one microsecond for values that aren't exactly
            # double-representable.  Nanos are positive, so truncating
            # `div` equals floor.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        elif dt == "timestamp":
            # LTZ -> NTZ via epoch micros (UTC wall clock; session-tz independent).
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, unix_micros(ts),"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df
