"""Reshaping + upsert operators (SURVEY.md §2.1-E/H extensions).

The reference has no pivot/melt/merge — these are REF-ANALOG completions of
the DataFrame surface a user of the reference's data model would expect from
a general engine (SURVEY §2.1-H note: set-ops/reshape included to complete
the surface). Provenance of the nearest reference shapes: the wide↔long
duality mirrors the reference's own meshgrid-flatten (app.py:41-43, wide 2-D
grid → long points table); the upsert models the Streamlit rerun loop's
"state overwritten by new params" behavior (app.py:105-115) as data.

Cross-engine float discipline: all money arithmetic on DECIMAL(18,2) (exact
in both engines, registry.py docstring), cast to DOUBLE only at the output
boundary.

Scale notes (100 TB):
- `reshape_pivot` pins the pivot value list explicitly — Spark otherwise
  runs an extra distinct-scan job over the full input to discover columns.
  The shuffle carries only (groups × pivot values) partial aggregates.
- `reshape_unpivot` (melt) is a zero-shuffle narrow map: each wide row
  expands to k long rows locally; at 100 TB it pipelines into downstream
  partial aggregation without materializing the long form.
- `merge_upsert` is the Delta/Iceberg MERGE INTO kernel expressed as a
  single full-outer shuffle join on the key. At scale: partition both sides
  on the key (co-located if the target table is bucketed/clustered by key,
  which removes the target-side shuffle), then write back partitioned; with
  a table format, file-level min/max pruning turns it into a touched-files
  rewrite. The source side here is pre-aggregated to one row per key before
  the join — the cardinality discipline that keeps MERGE deterministic
  (no multiple-match ambiguity) and the join skew-free.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..common import dec as _dec
from ..io import load_table
from ..registry import register

# ---------------------------------------------------------------------------
# reshape_pivot — wide per-group columns from (group, category) pairs.
# ---------------------------------------------------------------------------

_PIVOT_VALUES = ("F", "O")  # l_linestatus domain, pinned (no discovery scan)


def _pivot_cell(status: str, col: str) -> str:
    return (
        f"CAST(SUM(CASE WHEN l_linestatus = '{status}' "
        f"THEN CAST({col} AS DECIMAL(18,2)) END) AS DOUBLE)"
    )


_PIVOT_ORACLE = f"""
SELECT l_returnflag,
  {_pivot_cell('F', 'l_quantity')} AS "F_sum_qty",
  {_pivot_cell('F', 'l_extendedprice')} AS "F_sum_price",
  {_pivot_cell('O', 'l_quantity')} AS "O_sum_qty",
  {_pivot_cell('O', 'l_extendedprice')} AS "O_sum_price"
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "reshape_pivot",
    oracle=_PIVOT_ORACLE,
    doc="groupBy().pivot() long→wide with a pinned value list — the inverse "
    "of the reference's meshgrid flatten (app.py:41-43); REF-ANALOG.",
    tags=("reshape", "agg"),
)
def reshape_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", list(_PIVOT_VALUES))
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# reshape_unpivot — wide→long melt (DataFrame.unpivot / SQL stack()).
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
WITH w AS (
  SELECT l_returnflag,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS amount FROM w
UNION ALL SELECT l_returnflag, 'sum_price' AS metric, sum_price AS amount FROM w
UNION ALL SELECT l_returnflag, 'sum_disc' AS metric, sum_disc AS amount FROM w
ORDER BY l_returnflag, metric
"""


@register(
    "reshape_unpivot",
    oracle=_UNPIVOT_ORACLE,
    doc="DataFrame.unpivot wide→long melt (the reference's grid-flatten "
    "direction, app.py:43); zero-shuffle narrow expansion; REF-ANALOG.",
    tags=("reshape",),
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.sum(_dec("l_discount")).cast("double").alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="amount",
    ).orderBy("l_returnflag", "metric")


# ---------------------------------------------------------------------------
# merge_upsert — Delta-style MERGE INTO (update / keep / insert) as one
# full-outer join. Target: customer balances. Source: per-customer order
# deltas since the cutoff, plus synthetic new keys (key + 1_000_000 for
# orderkey % 7 == 0) so every MERGE branch is exercised.
# ---------------------------------------------------------------------------

_MERGE_CUTOFF = "1995-06-01 00:00:00"
_INSERT_SHIFT = 1_000_000

_MERGE_SRC_SQL = f"""
  SELECT o_custkey AS m_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS delta
  FROM {{orders}}
  WHERE o_orderdate >= TIMESTAMP '{_MERGE_CUTOFF}'
  GROUP BY o_custkey
  UNION ALL
  SELECT o_custkey + {_INSERT_SHIFT} AS m_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS delta
  FROM {{orders}}
  WHERE o_orderdate >= TIMESTAMP '{_MERGE_CUTOFF}' AND o_orderkey % 7 = 0
  GROUP BY o_custkey + {_INSERT_SHIFT}
"""

_MERGE_ORACLE = f"""
WITH src AS ({_MERGE_SRC_SQL})
SELECT
  COALESCE(c.c_custkey, s.m_custkey) AS custkey,
  CAST(COALESCE(CAST(c.c_acctbal AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2)))
       + COALESCE(s.delta, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS balance,
  CASE WHEN c.c_custkey IS NULL THEN 'insert'
       WHEN s.m_custkey IS NULL THEN 'keep'
       ELSE 'update' END AS action
FROM customer c FULL OUTER JOIN src s ON c.c_custkey = s.m_custkey
ORDER BY custkey
"""


@register(
    "merge_upsert",
    oracle=_MERGE_ORACLE.format(orders="orders"),
    doc="Delta-style MERGE INTO (update/keep/insert) as a single full-outer "
    "key join with pre-aggregated source — models the reference's "
    "state-overwrite rerun loop (app.py:105-115) as data; REF-ANALOG.",
    tags=("merge", "join"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    src = spark.sql(_MERGE_SRC_SQL, orders=load_table(spark, sf_dir, "orders"))
    zero = F.lit(0).cast("decimal(18,2)")
    merged = cust.join(src, cust.c_custkey == src.m_custkey, "full_outer")
    return merged.select(
        F.coalesce("c_custkey", "m_custkey").alias("custkey"),
        (F.coalesce(_dec("c_acctbal"), zero) + F.coalesce(F.col("delta"), zero))
        .cast("double")
        .alias("balance"),
        F.when(F.col("c_custkey").isNull(), F.lit("insert"))
        .when(F.col("m_custkey").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
        .alias("action"),
    ).orderBy("custkey")


# ---------------------------------------------------------------------------
# reshape_transpose — df.transpose() (Spark 4): rows ↔ columns over a
# SUMMARY relation. Transpose is definitionally driver-bounded (the output
# column set comes from the index column's values), so the engine offers it
# only downstream of an aggregation whose row count is domain-bounded —
# here the 3-row per-returnflag rollup; at 100 TB the heavy lifting is the
# shuffle-partial groupBy, and the transpose flips a 3×4 summary.
# ---------------------------------------------------------------------------


def _transpose_cell(rf: str, metric: str) -> str:
    return f"(SELECT {metric} FROM s WHERE rf = '{rf}')"


_TRANSPOSE_ORACLE = f"""
WITH s AS (
  SELECT l_returnflag AS rf,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
    CAST(COUNT(*) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY l_returnflag
)
SELECT 'sum_qty' AS key, {_transpose_cell('A', 'sum_qty')} AS "A",
  {_transpose_cell('N', 'sum_qty')} AS "N", {_transpose_cell('R', 'sum_qty')} AS "R"
UNION ALL
SELECT 'sum_price', {_transpose_cell('A', 'sum_price')},
  {_transpose_cell('N', 'sum_price')}, {_transpose_cell('R', 'sum_price')}
UNION ALL
SELECT 'n_rows', {_transpose_cell('A', 'n_rows')},
  {_transpose_cell('N', 'n_rows')}, {_transpose_cell('R', 'n_rows')}
"""


@register(
    "reshape_transpose",
    oracle=_TRANSPOSE_ORACLE,
    doc="df.transpose() (Spark 4): the 3-row per-returnflag decimal-exact "
    "rollup flipped so metrics become rows and the returnflag domain "
    "(A/N/R) becomes columns — the summary-matrix orientation a report "
    "expects. Oracle hand-builds the transposed relation with scalar "
    "subqueries per cell. All cells cast DOUBLE (transpose requires one "
    "common value type); index column first by the transpose contract. "
    "A 3-row domain spine (left join) keeps the output COLUMN SET stable "
    "when a slice lacks a flag — transpose's columns come from the index "
    "values present, and a data-dependent schema would break the oracle "
    "on degenerate inputs (absent flags surface as NULL cells, exactly "
    "like the oracle's empty scalar subqueries). Scale: transpose is "
    "domain-bounded by design — it consumes the aggregated summary, "
    "never the fact table.",
    tags=("reshape",),
)
def reshape_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    from ..common import local_rows_df

    # r14: literal JVM rows (see common.local_rows_df)
    spine = local_rows_df(
        spark, "l_returnflag string", [("A",), ("N",), ("R",)]
    )
    aggd = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    summ = spine.join(aggd, "l_returnflag", "left").orderBy("l_returnflag")
    return summ.transpose()
