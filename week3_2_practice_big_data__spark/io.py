"""Table ingestion (SURVEY.md §2.1-A `src_parquet_scan`, §7.1 M0).

All reads are plain `spark.read.parquet` scans so Catalyst keeps predicate
pushdown / column pruning / partition pruning; at 100 TB these tables would
be partitioned+bucketed parquet and the same code applies unchanged.

`events.ts` is stored as parquet INT64 TIMESTAMP(NANOS,false) which Spark 4
cannot map natively; with `spark.sql.legacy.parquet.nanosAsLong=true` it
arrives as a LONG of nanoseconds and is converted here to a microsecond
TIMESTAMP (same truncation DuckDB applies, keeping the oracle comparable).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import ensure_session_confs

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

# The events table's schema as load_table returns it (ts already a
# microsecond TIMESTAMP), spelled once so a stream can take it without
# reading the table.
EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _events_fallback(spark: SparkSession, path: str) -> DataFrame:
    """Arrow-side ns→us cast for sessions where the legacy conf is locked."""
    import pyarrow.compute  # noqa: F401  (ensure pyarrow fully loaded)
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    schema = table.schema
    for i, field in enumerate(schema):
        if str(field.type) == "timestamp[ns]":
            table = table.set_column(
                i, field.name, table.column(i).cast("timestamp[us]")
            )
    return spark.createDataFrame(table.to_pandas())


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    try:
        df = spark.read.parquet(path)
    except Exception:
        return _events_fallback(spark, path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # nanos → micros truncation, matching DuckDB's TIMESTAMP read.
        # Integer DIV, not `/`: double division loses µs precision at 1e18 ns.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # Newer Spark 4 readers map TIMESTAMP(NANOS,false) to TIMESTAMP_NTZ
        # (micros-truncated) instead of honoring the nanosAsLong legacy conf.
        # Session tz is pinned UTC, so NTZ → LTZ is a pure type change with
        # identical micros — the schema every operator (unix_micros, window(),
        # watermarks) was built against.
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df
