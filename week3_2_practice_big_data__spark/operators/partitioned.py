"""Partition-pruning join demonstration (REF-ANALOG, scale-critical).

`join_dpp_partitioned` — the one scan optimization SURVEY §4.1 couldn't
show on flat test files: the fact table is written PARTITIONED by ship
year into the repo scratch warehouse (once per sf, marker-guarded), then
joined to a filtered year dimension. Catalyst's dynamic partition pruning
turns the dimension filter into a runtime partition filter on the fact
scan — at 100 TB this is the difference between scanning two year
partitions and scanning the table. The executed plan carries a
`dynamicpruning` expression in the fact scan's PartitionFilters (pinned
by a plan test); the DuckDB oracle computes the same aggregate from the
raw table, proving partitioning changed the plan, not the answer.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..common import build_once, scratch_dir
from ..io import load_table
from ..registry import register

_TARGET_YEARS = (1996, 1997)


def _partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    def build(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("o_year", F.year("o_orderdate"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(tmp)
        )

    return build_once(scratch_dir(sf_dir, "dpp_orders"), build)


def _read_orders_part(spark: SparkSession, sf_dir: str, path: str):
    """Explicit read schema: an EMPTY partitioned write leaves no data
    files, and a schemaless parquet read would fail inference — the empty
    source must flow through as an empty relation, not an error."""
    sch = (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .schema
    )
    return spark.read.schema(sch).parquet(path)


_DPP_ORACLE = f"""
SELECT o_orderpriority, count(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
WHERE CAST(year(o_orderdate) AS INT) IN {_TARGET_YEARS}
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "join_dpp_partitioned",
    oracle=_DPP_ORACLE,
    doc="Dynamic partition pruning: orders written partitioned by year, "
    "joined to a filtered year dimension — the dim filter becomes a "
    "runtime PartitionFilter on the fact scan (dynamicpruning expression, "
    "pinned by plan test), so only the two target-year partitions are "
    "read. Oracle recomputes from the raw table: partitioning changes the "
    "plan, never the answer (REF-ANALOG; the 100 TB scan-elision "
    "pattern).",
    tags=("join", "source", "scale"),
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _partitioned_orders(spark, sf_dir)
    years = spark.range(1995, 2002).select(
        F.col("id").cast("int").alias("y")
    )
    return spark.sql(f"""
SELECT o_orderpriority, count(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM {{orders_part}} JOIN {{years_dim}} ON o_year = y
WHERE y IN {_TARGET_YEARS}
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""", orders_part=_read_orders_part(spark, sf_dir, path), years_dim=years)


_STATIC_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
WHERE CAST(year(o_orderdate) AS INT) = 1996
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "src_partition_prune_static",
    oracle=_STATIC_ORACLE,
    doc="Static partition pruning: a literal predicate on the partition "
    "column of the partitioned orders dataset prunes at PLANNING time — "
    "the scan lists only the one matching partition directory (plan test: "
    "PartitionFilters carries the literal, zero data filters needed). The "
    "planning-time sibling of join_dpp_partitioned's runtime pruning "
    "(REF-ANALOG).",
    tags=("source", "scale"),
)
def src_partition_prune_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _partitioned_orders(spark, sf_dir)
    return spark.sql("""
SELECT o_orderpriority, count(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM {orders_part}
WHERE o_year = 1996
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""", orders_part=_read_orders_part(spark, sf_dir, path))


# ---------------------------------------------------------------------------
# agg_zorder_clustering — Z-order (Morton) space-filling-curve clustering,
# the data-LAYOUT half of multi-dimensional file skipping at 100 TB: rows
# sorted by the bit-interleaved key of two filter dimensions land so that
# any contiguous z-range (≈ one file after a repartitionByRange write)
# covers a small rectangle of BOTH dimensions, letting min/max file stats
# prune scans on either column. Public technique (Morton 1966; the layout
# strategy behind Delta/Iceberg OPTIMIZE ZORDER). Implemented as pure
# integer arithmetic (bit j = floor(x/2^j) % 2 — no engine bit operators,
# identical text both dialects): z = Σ_j bit_j(a)·4^j + 2·bit_j(b)·4^j,
# then per-z-range-bucket min/max spans of each dimension PROVE the
# locality the layout buys — the judgeable analytic, not just a write.
# ---------------------------------------------------------------------------

_Z_BITS = 16  # 16 bits per dimension → 32-bit z-value
_Z_BUCKETS_SHIFT = 22  # bucket = z >> 22 → ≤ 1024 z-range buckets


def _zorder_expr(a: str, b: str, bits: int = _Z_BITS) -> str:
    """Bit-interleaved Morton code of two non-negative BIGINTs (low
    `bits` bits each) in portable arithmetic."""
    terms = []
    for j in range(bits):
        pj = 1 << j
        p2j = 1 << (2 * j)
        terms.append(f"(floor(({a}) / {pj}) % 2) * {p2j}")
        terms.append(f"(floor(({b}) / {pj}) % 2) * {2 * p2j}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _zorder_sql(dialect: str) -> str:
    del dialect  # identical text both engines
    z = _zorder_expr("a", "b")
    bucket_div = 1 << _Z_BUCKETS_SHIFT
    dom = 1 << _Z_BITS
    # Range-normalize each dimension onto the full 16-bit domain before
    # interleaving (what production z-order writers do): raw keys only
    # span a low prefix of the domain at small scale factors, which would
    # collapse every row into z-bucket 0 and prove nothing. One IEEE
    # multiply/divide/floor over exact integers — identical both engines.
    return f"""
WITH mx AS (
  SELECT max(l_partkey) + 1e0 AS ma, max(l_suppkey) + 1e0 AS mb
  FROM {{lineitem}}
),
dims AS (
  SELECT CAST(floor(l_partkey * {dom}e0 / mx.ma) AS BIGINT) AS a,
    CAST(floor(l_suppkey * {dom}e0 / mx.mb) AS BIGINT) AS b
  FROM {{lineitem}} CROSS JOIN mx
),
zvals AS (
  SELECT a, b, {z} AS z FROM dims
),
buckets AS (
  SELECT CAST(floor(z / {bucket_div}) AS BIGINT) AS bucket,
    count(*) AS n_rows,
    min(a) AS min_a, max(a) AS max_a,
    min(b) AS min_b, max(b) AS max_b
  FROM zvals GROUP BY 1
)
SELECT bucket, n_rows, min_a, max_a, min_b, max_b,
  CAST(max_a - min_a AS BIGINT) AS span_a,
  CAST(max_b - min_b AS BIGINT) AS span_b
FROM buckets
ORDER BY bucket
"""


@register(
    "agg_zorder_clustering",
    oracle=_zorder_sql("duckdb").format(lineitem="lineitem"),
    doc="Z-order (Morton) clustering analytic: bit-interleave the low 16 "
    "bits of (l_partkey, l_suppkey) in portable integer arithmetic, "
    "bucket rows by z-range, and report per-bucket min/max spans of both "
    "dimensions — the locality proof behind multi-dimensional file "
    "skipping (Delta/Iceberg OPTIMIZE ZORDER pattern) (REF-ANALOG scale).",
    tags=("agg", "scale", "source"),
)
def agg_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return spark.sql(_zorder_sql("spark"), lineitem=lineitem)
