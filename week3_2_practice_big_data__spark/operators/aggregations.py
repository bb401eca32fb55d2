"""Aggregation operators (SURVEY.md §2.1-E).

Reference provenance: every aggregation in the reference is a per-blob NumPy
reduction — extents `px.min()/px.max()` (app.py:56-57,73,76), centroid
`px.mean()` (app.py:70), kernel normalization `k /= k.sum()` (app.py:28).
Those appear here verbatim over the synthetic blob tables, plus the
generalized grouped aggregations (REF-ANALOG) on the driver star schema.

Cross-engine float discipline: money sums are computed on DECIMAL (exact in
both Spark and DuckDB, so the value hash matches bit-for-bit) and cast to
DOUBLE at the end; unit-scale ratios/means are rounded to 6 dp.

Scale notes (100 TB): hash aggregation with partial (map-side) combine is
automatic in Spark; group-by keys here are low-cardinality so the shuffle is
tiny regardless of input size. `approx_count_distinct` is the scale path for
distincts (constant memory sketch vs exact shuffle of the key space).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..registry import register
from ..common import checkpointed, dec as _dec
from .. import synth

# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped grouped multi-aggregate (SURVEY §7.1 M1).
# Exercises scan → filter (pushed to parquet) → project → partial+final hash
# agg → sort in one plan. At 100 TB this is a pure map-side-combine pattern:
# the shuffle carries only (6 groups × 8 aggregates).
# ---------------------------------------------------------------------------

_Q1_CUTOFF = "1998-09-02 00:00:00"

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register(
    "agg_groupby_multi",
    oracle=_Q1_ORACLE,
    doc="TPC-H Q1-shaped grouped multi-aggregate (SURVEY §2.1-E, REF-ANALOG "
    "of the per-blob reductions at app.py:56-57,70,73,76).",
    tags=("agg", "flagship", "bench"),
)
def agg_groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    charge = disc_price * (F.lit(1) + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            # Means as exact-decimal sum / count: both engines divide the
            # same two exact values → bit-identical doubles (no round()).
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            (F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1))).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# agg_extent — per-blob bounding box, app.py:56-57 (px.min/max, py.min/max).
# ---------------------------------------------------------------------------

_SEED, _NB = 42, 14


def _extent_sql(dialect: str) -> str:
    return (
        "SELECT blob_id, min(px) AS xmin, max(px) AS xmax, "
        "min(py) AS ymin, max(py) AS ymax, count(*) AS n_samples\n"
        f"FROM ({synth.boundary_sql(_SEED, _NB, dialect)}) boundary\n"
        "GROUP BY blob_id ORDER BY blob_id"
    )


@register(
    "agg_extent",
    oracle=_extent_sql("duckdb"),
    doc="Per-blob min/max bounding box of boundary samples (app.py:56-57).",
    tags=("agg", "generative"),
)
def agg_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_extent_sql("spark"))


# ---------------------------------------------------------------------------
# agg_centroid_mean — per-blob centroid, app.py:70 (px.mean(), py.mean()).
# ---------------------------------------------------------------------------


def _centroid_sql(dialect: str) -> str:
    # sum/count instead of avg(): engines may implement avg incrementally;
    # q6 quantizer instead of round(): see synth.q6 docstring.
    cx = synth.q6("sum(px) / count(*)")
    cy = synth.q6("sum(py) / count(*)")
    return (
        f"SELECT blob_id, {cx} AS cx_mean, {cy} AS cy_mean\n"
        f"FROM ({synth.boundary_sql(_SEED, _NB, dialect)}) boundary\n"
        "GROUP BY blob_id ORDER BY blob_id"
    )


@register(
    "agg_centroid_mean",
    oracle=_centroid_sql("duckdb"),
    doc="Per-blob mean centroid of boundary samples (app.py:70).",
    tags=("agg", "generative"),
)
def agg_centroid_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_centroid_sql("spark"))


# ---------------------------------------------------------------------------
# agg_sum_normalize — kernel normalization k /= k.sum(), app.py:28, done with
# a window aggregate so no re-join is needed (SURVEY §2.1-E).
# ---------------------------------------------------------------------------


def _kernel_norm_sql(dialect: str) -> str:
    return (
        f"SELECT tap, {synth.q6('weight')} AS weight\n"
        f"FROM ({synth.kernel_sql(2.0, dialect)}) kernel\n"
        "ORDER BY tap"
    )


@register(
    "agg_sum_normalize",
    oracle=_kernel_norm_sql("duckdb"),
    doc="Gaussian kernel generation + sum-normalization via window aggregate "
    "(app.py:22-29).",
    tags=("agg", "generative"),
)
def agg_sum_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_kernel_norm_sql("spark"))


# ---------------------------------------------------------------------------
# agg_count_distinct — REF-ANALOG (absent in reference, SURVEY §2.1-E).
# Exact distinct per group; the 100 TB path swaps in approx_count_distinct
# (HLL sketch, no key shuffle) — exposed as a separate column-free key below.
# ---------------------------------------------------------------------------

_CD_ORACLE = """
SELECT event_type,
  COUNT(DISTINCT user_id) AS n_users,
  COUNT(*) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "agg_count_distinct",
    oracle=_CD_ORACLE,
    doc="Exact grouped COUNT DISTINCT on events (REF-ANALOG).",
    tags=("agg",),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_approx_distinct",
    oracle="""
SELECT event_type,
  COUNT(DISTINCT user_id) AS n_users_exact,
  TRUE AS approx_within_5pct
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc="approx_count_distinct (HLL) — the 100 TB scale path for distincts. "
    "Sketch estimates are engine-specific, so the checkable contract is: "
    "exact count (hash-compared) plus a boolean asserting the HLL estimate "
    "at rsd=0.01 lands within 5 % relative error of the exact count — far "
    "looser than the sketch's guarantee, so deterministically TRUE, while "
    "still failing loudly if the sketch path ever breaks.",
    tags=("agg", "scale"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", 0.01).alias("n_users_approx"),
    )
    return agg.select(
        "event_type",
        "n_users_exact",
        (
            F.abs(F.col("n_users_approx") - F.col("n_users_exact"))
            <= 0.05 * F.col("n_users_exact")
        ).alias("approx_within_5pct"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# agg_rollup_cube — REF-ANALOG grouping sets (absent in reference).
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT c_mktsegment, o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
  GROUPING(c_mktsegment) + 2 * GROUPING(o_orderpriority) AS grp
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY ROLLUP (c_mktsegment, o_orderpriority)
ORDER BY grp, c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST
"""


@register(
    "agg_rollup_cube",
    oracle=_ROLLUP_ORACLE,
    doc="ROLLUP grouping-sets aggregate over orders⋈customer (REF-ANALOG).",
    tags=("agg",),
)
def agg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    )
    grp = (F.grouping("c_mktsegment") + F.lit(2) * F.grouping("o_orderpriority")).alias(
        "grp"
    )
    return (
        joined.rollup("c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
            grp,
        )
        .orderBy(
            "grp",
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# agg_cube — CUBE grouping sets (all 4 combinations), complementing ROLLUP.
# ---------------------------------------------------------------------------

_CUBE_ORACLE = """
SELECT c_mktsegment, o_orderpriority,
  COUNT(*) AS n_orders,
  GROUPING(c_mktsegment) + 2 * GROUPING(o_orderpriority) AS grp
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderpriority)
ORDER BY grp, c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST
"""


@register(
    "agg_cube",
    oracle=_CUBE_ORACLE,
    doc="CUBE grouping sets over orders⋈customer (REF-ANALOG).",
    tags=("agg",),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    )
    grp = (F.grouping("c_mktsegment") + F.lit(2) * F.grouping("o_orderpriority")).alias(
        "grp"
    )
    return (
        joined.cube("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), grp)
        .orderBy(
            "grp",
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# agg_salted_skew — the skew-mitigation pattern made explicit: two-phase
# aggregation through a salted intermediate key. On uniform test data the
# result equals the direct aggregation (the oracle); at 100 TB with a hot
# key, phase 1 spreads that key across `_N_SALT` reducers and phase 2
# combines the partials (AQE skew handling does this adaptively for joins;
# salting is the manual pattern for aggregations/joins AQE can't split).
# ---------------------------------------------------------------------------

_N_SALT = 8

_SALT_ORACLE = """
SELECT l_returnflag,
  COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register(
    "agg_salted_skew",
    oracle=_SALT_ORACLE,
    doc="Two-phase salted aggregation (skew pattern): partial agg on "
    "(key, salt), final agg on key — equals direct agg, bounds any single "
    "reducer's load (REF-ANALOG, scale).",
    tags=("agg", "scale"),
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "_salt", F.pmod(F.col("l_orderkey"), F.lit(_N_SALT))
    )
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(_dec("l_quantity")).alias("pq"),
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("pq").cast("double").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# agg_percentile — exact interpolated percentiles (R-7), REF-ANALOG of the
# reference's minmax normalization statistics. approx_percentile is the
# 100 TB scale path (t-digest sketch, no global sort).
# ---------------------------------------------------------------------------

_PCT_ORACLE = f"""
SELECT l_returnflag,
  {synth.q6("quantile_cont(l_extendedprice, 0.25)")} AS p25,
  {synth.q6("quantile_cont(l_extendedprice, 0.5)")} AS p50,
  {synth.q6("quantile_cont(l_extendedprice, 0.9)")} AS p90
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register(
    "agg_percentile",
    oracle=_PCT_ORACLE,
    doc="Exact linear-interpolated percentiles per group (REF-ANALOG; "
    "approx_percentile t-digest is the scale path).",
    tags=("agg",),
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        f"""
SELECT l_returnflag,
  {synth.q6("percentile(l_extendedprice, 0.25e0)")} AS p25,
  {synth.q6("percentile(l_extendedprice, 0.5e0)")} AS p50,
  {synth.q6("percentile(l_extendedprice, 0.9e0)")} AS p90
FROM {{lineitem}} GROUP BY l_returnflag ORDER BY l_returnflag
""",
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


# ---------------------------------------------------------------------------
# agg_corr_moments — corr / stddev_pop / covar_pop per group computed from
# EXACT decimal moments (n, Σx, Σy, Σx², Σy², Σxy), cast to DOUBLE only for
# the final closed-form combination. The builtin corr()/stddev() stream
# doubles in partition order → last-ulp drift between engines; the moment
# form is order-free (decimal sums are exact), so both engines combine the
# same six doubles with the same expression text → bit-identical results
# (registry.py float discipline). REF-ANALOG of the reference's min-max
# normalization statistics (app.py:73,76). Scale: one partial+final hash
# agg, shuffle carries 6 numbers per group — the same single-pass moment
# trick every distributed stats library uses.
# ---------------------------------------------------------------------------


def _moments_sql() -> str:
    dx = "CAST(l_quantity AS DECIMAL(18,2))"
    dy = "CAST(l_extendedprice AS DECIMAL(18,2))"
    return f"""
WITH m AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM({dx}) AS DOUBLE) AS sx,
    CAST(SUM({dy}) AS DOUBLE) AS sy,
    CAST(SUM({dx} * {dx}) AS DOUBLE) AS sxx,
    CAST(SUM({dy} * {dy}) AS DOUBLE) AS syy,
    CAST(SUM({dx} * {dy}) AS DOUBLE) AS sxy
  FROM {{lineitem}} GROUP BY l_returnflag
)
SELECT l_returnflag,
  CASE WHEN n * sxx - sx * sx = 0e0 OR n * syy - sy * sy = 0e0
       THEN CAST(NULL AS DOUBLE)  -- zero variance (e.g. single row): corr undefined
       ELSE {synth.q6("(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))")} END AS corr_qty_price,
  {synth.q6("sqrt(n * syy - sy * sy) / n")} AS stddev_pop_price,
  {synth.q6("(n * sxy - sx * sy) / (n * n)")} AS covar_pop_qty_price
FROM m ORDER BY l_returnflag
"""


@register(
    "agg_corr_moments",
    oracle=_moments_sql().format(lineitem="lineitem"),
    doc="corr/stddev_pop/covar_pop per group via exact decimal moments — "
    "order-free single-pass statistics (REF-ANALOG of app.py:73,76 "
    "normalization stats).",
    tags=("agg", "scale"),
)
def agg_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_moments_sql(), lineitem=load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# agg_mode — most frequent value per group with a DETERMINISTIC tie-break
# (count desc, then value asc). The builtin mode() is tie-unstable across
# engines; count + row_number makes the choice reproducible — the same
# count→top-1 shape as the reference's palette-index cycling dominance
# (app.py:146). Scale: two hash aggs + one tiny window over (groups ×
# distinct values), shuffle-bounded by group cardinality.
# ---------------------------------------------------------------------------

_MODE_SQL = """
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
  FROM {orders} GROUP BY o_orderstatus, o_orderpriority
), r AS (
  SELECT o_orderstatus, o_orderpriority, n,
    row_number() OVER (PARTITION BY o_orderstatus
                       ORDER BY n DESC, o_orderpriority) AS rn
  FROM c
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, n
FROM r WHERE rn = 1
ORDER BY o_orderstatus
"""


@register(
    "agg_mode",
    oracle=_MODE_SQL.format(orders="orders"),
    doc="Deterministic per-group mode via count + row_number tie-break "
    "(REF-ANALOG; builtin mode() is tie-unstable across engines).",
    tags=("agg",),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_MODE_SQL, orders=load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# udaf_weighted_quantity — TRUE user-defined AGGREGATE via pandas_udf
# GROUPED_AGG (Series -> scalar), the one UDF surface category J lacked:
# udf_rowwise_lambda is scalar, udtf_explode_gen is table-valued,
# udf_grouped_map_render is grouped-map. The reference's analog is its
# per-blob reduction lambdas over NumPy arrays (app.py:56-57,70) — a custom
# reduction the host engine doesn't ship.
#
# Cross-engine exactness: l_quantity is integer-valued (TPC-H) and
# l_linenumber is a small int, so every product and partial sum is an exact
# integer < 2^53 in float64 — the sum is order-insensitive, so the Arrow
# batch order vs DuckDB's scan order cannot drift, and the final single
# division is IEEE-deterministic. No rounding needed.
#
# Scale notes (100 TB): GROUPED_AGG pandas UDFs get map-side partial
# aggregation ONLY if Spark can split them (it can't — opaque Python), so
# the shuffle carries raw rows per group. That is the honest cost of an
# opaque UDAF and exactly why the engine prefers built-in aggregates
# elsewhere; here the group key (l_returnflag, 3 groups) bounds the reduce
# side, and at real scale the same aggregate would be rewritten to the
# built-in sum() pair (shown in the oracle) the moment the semantics allow.
# ---------------------------------------------------------------------------

_UDAF_ORACLE = """
SELECT
  l_returnflag,
  CAST(sum(l_quantity * l_linenumber) AS DOUBLE) AS wsum_qty,
  CAST(sum(l_linenumber) AS DOUBLE) AS wcnt,
  CAST(sum(l_quantity * l_linenumber) AS DOUBLE)
    / CAST(sum(l_linenumber) AS DOUBLE) AS wavg_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "udaf_weighted_quantity",
    oracle=_UDAF_ORACLE,
    doc="User-defined aggregate (pandas_udf GROUPED_AGG): linenumber-"
    "weighted quantity sum/count/mean per returnflag; integer-exact in "
    "float64 so bit-identical to the oracle (REF-ANALOG app.py:56-57,70).",
    tags=("agg", "udf", "udaf"),
)
def udaf_weighted_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # explicit GROUPED_AGG: module-level `from __future__ import annotations`
    # stringifies type hints, so Spark's hint-based eval-type inference
    # cannot resolve them for these locally-defined functions
    @F.pandas_udf("double", F.PandasUDFType.GROUPED_AGG)
    def wsum_qty(q, w):
        return float((q.to_numpy() * w.to_numpy()).sum())

    @F.pandas_udf("double", F.PandasUDFType.GROUPED_AGG)
    def wcnt(w):
        return float(w.to_numpy().sum())

    li = load_table(spark, sf_dir, "lineitem")
    w = F.col("l_linenumber").cast("double")
    return (
        li.groupBy("l_returnflag")
        .agg(
            wsum_qty(F.col("l_quantity"), w).alias("wsum_qty"),
            wcnt(w).alias("wcnt"),
        )
        .select(
            "l_returnflag",
            "wsum_qty",
            "wcnt",
            (F.col("wsum_qty") / F.col("wcnt")).alias("wavg_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# agg_grouping_sets — explicit GROUPING SETS (the general form; ROLLUP/CUBE
# above are its shorthands): per-(segment,priority), per-segment, and grand
# total in ONE pass. Scale: Spark expands grouping sets into a single
# Expand + hash-agg — one scan, one shuffle, regardless of how many sets;
# the alternative (N separate group-bys + union) scans N times.
# ---------------------------------------------------------------------------

_GSETS_SQL = """
SELECT c_mktsegment, o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
  GROUPING(c_mktsegment) + 2 * GROUPING(o_orderpriority) AS grp
FROM {orders} JOIN {customer} ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), (c_mktsegment), ())
ORDER BY grp, c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST
"""


@register(
    "agg_grouping_sets",
    oracle=_GSETS_SQL.format(orders="orders", customer="customer"),
    doc="Explicit GROUPING SETS aggregate — the general grouping-sets form "
    "behind ROLLUP/CUBE; one Expand+hash-agg pass (REF-ANALOG).",
    tags=("agg",),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _GSETS_SQL,
        orders=load_table(spark, sf_dir, "orders"),
        customer=load_table(spark, sf_dir, "customer"),
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch aggregates (Apache DataSketches, built into Spark 4):
# THE 100 TB pattern for distincts and quantiles — build a partial sketch
# per partition/group (map-side, bounded memory), merge sketches across
# groups (tiny shuffle), estimate at the end. Sketch bytes are
# engine-specific, so the checkable contract mirrors agg_approx_distinct:
# emit the EXACT value (hash-compared against DuckDB) plus a boolean
# asserting the sketch estimate lands within a tolerance far looser than
# the sketch's published error bound — deterministically TRUE, but failing
# loudly if the sketch path ever breaks.
# ---------------------------------------------------------------------------


@register(
    "agg_sketch_hll_merge",
    oracle="""
SELECT event_type,
  COUNT(DISTINCT user_id) AS n_users_exact,
  TRUE AS merged_estimate_within_5pct
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc="Two-level HLL: per-(event_type, user-bucket) partial sketches "
    "(hll_sketch_agg) merged per event_type (hll_union_agg) — the "
    "mergeable-sketch distinct-count pattern that replaces a global "
    "shuffle-distinct at 100 TB. Contract: exact count + estimate-within-"
    "5% boolean (HLL lgK=12 is ~1.6% RSE).",
    tags=("agg", "scale", "sketch"),
)
def agg_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    partial = ev.groupBy(
        "event_type", (F.col("user_id") % F.lit(8)).alias("bucket")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = partial.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_est")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    return (
        exact.join(merged, "event_type")
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("n_est") - F.col("n_users_exact"))
                <= 0.05 * F.col("n_users_exact")
            ).alias("merged_estimate_within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_sketch_kll_quantile",
    oracle="""
SELECT event_type,
  COUNT(*) AS n_events,
  TRUE AS median_rank_within_5pct
FROM events WHERE value IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
    doc="KLL quantile sketch: per-event_type kll_sketch_agg_double over "
    "`value`, median estimated from the sketch, then VERIFIED by computing "
    "the exact rank of the estimate (fraction of values <= estimate) and "
    "asserting |rank - 0.5| <= 0.05 (KLL k=200 is ~1.65% rank error). "
    "Quantiles without a global sort — the 100 TB percentile path.",
    tags=("agg", "scale", "sketch"),
)
def agg_sketch_kll_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Non-null domain on both sides: the sketch ignores NULLs, but the
    # rank-verification denominator counted them — on a 90%-NULL value
    # column (r13 skew fixture) the exact rank deflated to ~0.05 and the
    # 5% band check failed spuriously. NaN/Inf stay in (not NULL).
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("double").alias("v"))
    )
    est = ev.groupBy("event_type").agg(
        F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double("v"), F.lit(0.5)
        ).alias("med_est")
    )
    ranked = (
        ev.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg(
                F.when(F.col("v") <= F.col("med_est"), 1.0).otherwise(0.0)
            ).alias("rank_of_est"),
        )
    )
    # Tolerance floor 1/n: achievable ranks are k/n, so below ~20 rows the
    # 5% band is narrower than rank granularity and the check would fail
    # on any tiny group regardless of sketch quality.
    return ranked.select(
        "event_type",
        "n_events",
        (
            F.abs(F.col("rank_of_est") - 0.5)
            <= F.greatest(F.lit(0.05), 1.0 / F.col("n_events"))
        ).alias("median_rank_within_5pct"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# agg_conditional — conditional / argmax aggregate surface: count_if
# (FILTER), argmax/argmin, bool_and/bool_or in one hash-agg pass.
# `value` is 2-decimal-quantized, so max_by/arg_max TIES EXIST and the two
# engines break them differently (confirmed divergent at sf0.1) — instead
# the argmax is computed over a composite integer key
# round(value·100)·10^7 + event_id (exact: value·100 is an integer ≤ 10^5,
# event_id < 10^7), making the tie-break (higher id for max, lower id for
# min) part of the deterministic contract. Same text both dialects.
# ---------------------------------------------------------------------------

# synth.sat front gate (r4 adversarial sweep): ±1e300/Inf/NaN values
# overflow the BIGINT key cast. The +1e11 offset makes the composite key
# NON-NEGATIVE for the whole saturated domain (|v| ≤ 1e9 → v·100 ∈
# ±1e11), so the `% 10^7` id extraction is exact for negative values too
# (a negative dividend's remainder carries the sign in both engines —
# the id came out negated); (2e11)·10^7 + id stays inside int64.
_VKEY = (
    f"((CAST(floor({synth.sat('value', 1e9)} * 100e0 + 0.5e0) AS BIGINT)"
    " + 100000000000) * 10000000 + event_id)"
)

_COND_SHARED = f"""
SELECT event_type,
  count(*) FILTER (WHERE value > 50) AS n_high,
  CAST(max({_VKEY}) % 10000000 AS BIGINT) AS top_event,
  CAST(min({_VKEY}) % 10000000 AS BIGINT) AS bottom_event,
  bool_or(value > 99) AS any_near_max,
  bool_and(value >= 0) AS all_nonneg
FROM {{events}} GROUP BY event_type ORDER BY event_type
"""


@register(
    "agg_conditional",
    oracle=_COND_SHARED.format(events="events"),
    doc="Conditional/argmax aggregates: count_if (FILTER), argmax/argmin "
    "via a composite integer key with a DETERMINISTIC tie-break (quantized "
    "values tie; engine-native max_by/arg_max break ties differently), "
    "bool_and/bool_or — one hash-agg pass, shared text (REF-ANALOG).",
    tags=("agg",),
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_COND_SHARED, events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# agg_sketch_cms_heavy — Count-Min-accelerated exact heavy hitters. The
# naive heavy-hitter query groupBys the full bigram universe (shuffle keyed
# on every distinct bigram — unbounded at 100 TB); the sketch plan folds
# the occurrence stream into a fixed 3×1024 counter matrix (bounded
# shuffle: ≤3072 cells regardless of data size), reads candidate bigrams
# off the sketch (CMS NEVER underestimates ⇒ candidates ⊇ true heavy
# hitters), and re-counts ONLY the candidates exactly. The overestimate
# side of CMS is real at this width (~900 distinct bigrams over 1024
# columns collide), so the rerank genuinely kills false candidates; the
# output is bit-identical to the sketch-free oracle.
# ---------------------------------------------------------------------------

_CMS_W = 1024  # counter columns per hash row
_CMS_D = 3  # hash rows (seeds)


def _bigram_stream_sql(dialect: str) -> str:
    """Bigram OCCURRENCE stream (one row per adjacent token pair), built
    MAP-SIDE from the token array — adjacency is already encoded by array
    position, so pairing needs no lead() window (the window form shuffles
    the whole token stream on doc_id; measured 5.7× on the 10× ladder vs
    ~1× for this form). Spark guards n<2 with CASE because
    `sequence(0, -1)` is the DESCENDING [0, -1] (r4 adversarial rule);
    DuckDB's generate_series(1, 0) is already empty."""
    if dialect == "spark":
        pairs = (
            "explode(CASE WHEN size(toks) >= 2 THEN "
            "transform(sequence(0, size(toks) - 2), "
            "i -> toks[i] || ' ' || toks[i + 1]) "
            "ELSE array() END)"
        )
    else:
        pairs = (
            "unnest(list_transform(generate_series(1, len(toks) - 1), "
            "i -> toks[i] || ' ' || toks[i + 1]))"
        )
    split = "split(text, ' ')" if dialect == "spark" else "string_split(text, ' ')"
    return f"""
SELECT doc_id, {pairs} AS bigram
FROM (SELECT doc_id, {split} AS toks FROM {{documents}}) t0
"""


def _cms_heavy_sql(dialect: str, bg_ref: str | None = None) -> str:
    if dialect == "spark":
        div = "t.total DIV 1000"
        cms = f"""
seeds AS (SELECT explode(sequence(0, {_CMS_D - 1})) AS s),
cells AS (
  SELECT s, pmod(xxhash64(bigram, s), {_CMS_W}) AS col, count(*) AS cnt
  FROM bg CROSS JOIN seeds GROUP BY s, pmod(xxhash64(bigram, s), {_CMS_W})
),
thresh AS (
  -- stream total recovered from the sketch: every occurrence lands in
  -- exactly ONE column of each seed row, so sum(cnt | s=0) = |stream| and
  -- the dedicated counting pass (a fourth corpus scan) disappears
  SELECT greatest(CAST(sum(cnt) AS BIGINT) DIV 1000, 2) AS t
  FROM cells WHERE s = 0
),
est AS (
  SELECT g.bigram, min(c.cnt) AS cms_est
  FROM (SELECT DISTINCT bigram FROM bg) g
  CROSS JOIN seeds s
  JOIN cells c ON c.s = s.s AND c.col = pmod(xxhash64(g.bigram, s.s), {_CMS_W})
  GROUP BY g.bigram
),
cand AS (SELECT e.bigram FROM est e CROSS JOIN thresh t WHERE e.cms_est >= t.t),
counted AS (
  SELECT b.bigram, count(*) AS n_occurrences
  FROM bg b JOIN cand c ON b.bigram = c.bigram
  GROUP BY b.bigram
)"""
    else:
        div = "t.total // 1000"
        # The oracle counts every bigram exactly, with NO sketch: the CMS
        # prefilter must be invisible in the result.
        cms = """
counted AS (
  SELECT bigram, count(*) AS n_occurrences FROM bg GROUP BY bigram
)"""
    pre = (
        "" if dialect == "spark" else f"""
tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM bg),
thresh AS (SELECT greatest({div}, 2) AS t FROM tot t),"""
    )
    return f"""
WITH bg AS ({bg_ref or _bigram_stream_sql(dialect)}),{pre}{cms}
SELECT c.bigram, CAST(c.n_occurrences AS BIGINT) AS n_occurrences, t.t AS threshold
FROM counted c CROSS JOIN thresh t
WHERE c.n_occurrences >= t.t
ORDER BY n_occurrences DESC, c.bigram
"""


@register(
    "agg_sketch_cms_heavy",
    oracle=_cms_heavy_sql("duckdb").format(documents="documents"),
    doc="Count-Min heavy hitters with exact rerank: the bigram occurrence "
    "stream folds into a 3×1024 counter matrix (bounded-key shuffle, "
    "8 KB broadcastable), candidates read off the sketch (no "
    "underestimates ⇒ superset), and only candidates are re-counted "
    "exactly — output bit-identical to the sketch-free oracle, threshold "
    "= max(total DIV 1000, 2) occurrences (sketch family with "
    "hll_merge / kll_quantile; REF-ANALOG of the reference's density "
    "histogram, app.py:72).",
    tags=("agg", "scale", "sketch"),
)
def agg_sketch_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deliberately NOT checkpointed: the bigram stream is a map-side
    # explode that is LARGER than its parquet input, so re-deriving it per
    # consumer (columnar scan + transform) beats materializing it — the
    # opposite tradeoff from the tokenize/window relations the text family
    # checkpoints. Measured: 5.74× → 1.4× on the 10× ladder.
    documents = load_table(spark, sf_dir, "documents")
    return spark.sql(_cms_heavy_sql("spark"), documents=documents)


# ---------------------------------------------------------------------------
# agg_sketch_kmv_intersect — set-intersection cardinality via KMV (k-minimum
# -values / theta) sketches: per event_type, the sketch is the k=64 smallest
# values of a deterministic integer hash over the type's DISTINCT users;
# for every type pair, theta = the k-th smallest of the UNION sketch and
# |A∩B| ≈ matches(h < theta, h in both sketches) · M/theta — the classic
# theta-sketch intersection estimator (KMV; DataSketches' theta family).
# Unlike agg_sketch_hll_merge/kll (engine-native sketches, contract-only
# oracles), the hash here is the repo's pure-integer LCG, so the ENTIRE
# estimate is bit-identical in Spark and DuckDB and the key carries a FULL
# value oracle — theta, match count, estimate, exact rerank, and relative
# error are all hash-checked. The exact intersection rides the bounded
# per-user self-join (fan-out ≤ C(#types, 2) per user), giving the
# sketch-vs-exact error surface in one result set.
# Determinism notes: theta can never be 0 (hash values are DISTINCT within
# a pair's union, so h=0 would hold rank 1, never rank k), hence the
# estimate division is safe under Spark ANSI; matches·M ≤ 64·2³¹ ≪ 2⁵³ is
# exact in double, one correctly-rounded division ends the tree.
# Scale shape (100 TB): the distinct (type, user) relation materializes
# once (referenced by the sketch AND the exact path — CTE inlining would
# re-scan events per reference); sketches are per-type hash top-k (k rows
# survive per type — the mergeable-sketch property: a k-min of bucketed
# k-mins is the same sketch); everything downstream of `sk` is
# summary-sized (≤ pairs × 2k rows).
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_M31 = 2_147_483_648


def _kmv_hash(u: str) -> str:
    """31-bit LCG hash of a BIGINT key, non-negative-normalized first
    (Spark/DuckDB `%` keeps the dividend's sign; the double-mod form is
    overflow-free under ANSI for any int64 input, and every later
    intermediate stays < 2^62)."""
    un = f"((({u}) % {_KMV_M31} + {_KMV_M31}) % {_KMV_M31})"
    x = f"(({un} * 1000003 + 20260815) % {_KMV_M31})"
    return f"((1103515245 * {x} + 12345) % {_KMV_M31})"


# The cohort universe: users with at least one HIGH-INTENSITY event of the
# type (value > 150, ≈ the per-event 95th percentile — membership ≈ 50% of
# users and, crucially, DIFFERENT per type, so pairwise overlaps genuinely
# vary; the unfiltered (type, user) relation is degenerate in this corpus —
# every user touches every type and all 10 pairs collapse to one answer).
# At sf0.001 unions stay under k (the sketch IS the set — exact branch);
# at sf0.01+ unions exceed k and the theta path is exercised.
_KMV_D_SQL = """
SELECT DISTINCT event_type AS t, user_id AS u FROM {events}
WHERE event_type IS NOT NULL AND user_id IS NOT NULL AND value > 150e0
"""


def _kmv_sql(dialect: str, d_ref: str | None = None) -> str:
    del dialect  # shared text
    k, m = _KMV_K, _KMV_M31
    ne = "coalesce(e.n_exact, 0)"
    est = f"(CAST(mm.matches AS DOUBLE) * {m}e0 / CAST(mm.th AS DOUBLE))"
    err = (
        f"(abs({est} - CAST({ne} AS DOUBLE)) / "
        f"greatest(CAST({ne} AS DOUBLE), 1e0))"
    )
    return f"""
WITH d AS (
  {d_ref or _KMV_D_SQL}
),
dh AS (
  SELECT DISTINCT t, {_kmv_hash("u")} AS h FROM d
),
sk AS (
  SELECT t, h FROM (
    SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn
    FROM dh
  ) z WHERE rn <= {k}
),
types AS (
  SELECT DISTINCT t FROM sk
),
pairs AS (
  SELECT a.t AS t1, b.t AS t2 FROM types a JOIN types b ON a.t < b.t
),
uh AS (
  SELECT t1, t2, h, max(in1) AS in1, max(in2) AS in2 FROM (
    SELECT p.t1, p.t2, s.h, 1 AS in1, 0 AS in2
    FROM pairs p JOIN sk s ON s.t = p.t1
    UNION ALL
    SELECT p.t1, p.t2, s.h, 0 AS in1, 1 AS in2
    FROM pairs p JOIN sk s ON s.t = p.t2
  ) z GROUP BY t1, t2, h
),
ranked AS (
  SELECT t1, t2, h, in1, in2,
    row_number() OVER (PARTITION BY t1, t2 ORDER BY h) AS rn
  FROM uh
),
theta AS (
  SELECT t1, t2,
    CASE WHEN max(rn) >= {k}
         THEN max(CASE WHEN rn = {k} THEN h ELSE -1 END)
         ELSE {m} END AS th
  FROM ranked GROUP BY t1, t2
),
mm AS (
  SELECT r.t1, r.t2, t.th,
    CAST(sum(CASE WHEN r.in1 = 1 AND r.in2 = 1 AND r.h < t.th
                  THEN 1 ELSE 0 END) AS BIGINT) AS matches
  FROM ranked r JOIN theta t ON t.t1 = r.t1 AND t.t2 = r.t2
  GROUP BY r.t1, r.t2, t.th
),
exact AS (
  SELECT a.t AS t1, b.t AS t2, CAST(count(*) AS BIGINT) AS n_exact
  FROM d a JOIN d b ON a.u = b.u AND a.t < b.t
  GROUP BY a.t, b.t
)
SELECT mm.t1 AS type_a, mm.t2 AS type_b,
  CAST({ne} AS BIGINT) AS n_exact,
  mm.th AS theta, mm.matches AS n_matches,
  {synth.q6(est)} AS n_est,
  {synth.q6(err)} AS rel_err
FROM mm
LEFT JOIN exact e ON e.t1 = mm.t1 AND e.t2 = mm.t2
ORDER BY type_a, type_b
"""


@register(
    "agg_sketch_kmv_intersect",
    oracle=_kmv_sql("duckdb").format(events="events"),
    doc="Theta-sketch set intersection: per-type KMV sketch (k=64 minimum "
    "LCG-hash values over distinct users), per-pair theta = k-th minimum "
    "of the union sketch, |A∩B| ≈ matches·M/theta, with the exact "
    "per-user-join rerank and relative error alongside. Deterministic "
    "integer hash ⇒ FULL value oracle (vs the HLL/KLL contract checks); "
    "distinct relation materialized once, k rows survive per type, "
    "everything past the sketch summary-sized (REF-ANALOG; the "
    "mergeable-sketch answer to set overlap at 100 TB).",
    tags=("agg", "scale", "sketch"),
)
def agg_sketch_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    d = checkpointed(
        spark, "kmv_d",
        lambda: spark.sql(_KMV_D_SQL, events=events).coalesce(8),
        sf_dir,
    )
    return spark.sql(_kmv_sql("spark", d_ref="SELECT t, u FROM {d}"), d=d)


# ---------------------------------------------------------------------------
# agg_grouping_sets_df — the DataFrame groupingSets API (Spark 4): the
# programmatic twin of agg_grouping_sets (SQL GROUP BY GROUPING SETS).
# Same sets, same grouping-flag combination, same oracle — the hash pins
# that the API path expands to the identical Expand+hash-agg relation.
# ---------------------------------------------------------------------------


@register(
    "agg_grouping_sets_df",
    oracle=_GSETS_SQL.format(orders="orders", customer="customer"),
    doc="df.groupingSets(...) (Spark 4 DataFrame API): per-(segment, "
    "priority), per-segment, and grand total in one pass via the "
    "programmatic grouping-sets entry point, with F.expr grouping() "
    "flags — hash-pinned against the same oracle as the SQL form "
    "(REF-ANALOG: API twin of agg_grouping_sets; one Expand + one "
    "shuffle regardless of set count).",
    tags=("agg",),
)
def agg_grouping_sets_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return (
        j.groupingSets(
            [["c_mktsegment", "o_orderpriority"], ["c_mktsegment"], []],
            "c_mktsegment",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
            F.expr(
                "grouping(c_mktsegment) + 2 * grouping(o_orderpriority)"
            ).alias("grp"),
        )
        .orderBy(
            "grp",
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# agg_crosstab — df.stat.crosstab (the DataFrame contingency-table API):
# exact pairwise counts, one column per second-key value. Column set
# comes from the DATA domain (like transpose pre-spine — but here the
# spine cannot be injected without bypassing the API under test), so the
# key runs on the real tables where the l_linestatus domain {F, O} is
# always present and stays out of the empty/slice gates (documented
# domain-dependence, the grouping-sets-exemption class).
# ---------------------------------------------------------------------------

_CROSSTAB_ORACLE = """
SELECT l_returnflag AS l_returnflag_l_linestatus,
  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O"
FROM lineitem
WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
GROUP BY l_returnflag
ORDER BY l_returnflag_l_linestatus
"""


@register(
    "agg_crosstab",
    oracle=_CROSSTAB_ORACLE,
    doc="df.stat.crosstab('l_returnflag', 'l_linestatus'): the exact "
    "contingency table (pairwise counts, one column per linestatus "
    "value) hash-pinned against the CASE-sum pivot. Scale: crosstab is "
    "one hash-agg over the pair domain — bounded output; Spark "
    "implements it as a single pass, no per-cell scan.",
    tags=("agg",),
)
def agg_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Non-null pair domain on both sides: crosstab STRINGIFIES NULL keys
    # as 'null' rows/columns (colliding with a genuine 'null' string —
    # a documented API wart), and the static oracle can't grow a NULL
    # column only on NULL-bearing fixtures (the r13 skew regime). On
    # null-free fixtures the filter is a no-op.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            F.col("l_returnflag").isNotNull()
            & F.col("l_linestatus").isNotNull()
        )
    )
    ct = li.stat.crosstab("l_returnflag", "l_linestatus")
    cols = [ct.columns[0]] + sorted(ct.columns[1:])
    return ct.select(*cols).orderBy(ct.columns[0])


# ---------------------------------------------------------------------------
# df.stat completion sweep (r11, VERDICT r10 item 5) — the remaining
# DataFrameStatFunctions surface: freqItems, approxQuantile, cov/corr,
# sampleBy. All four APIs are driver-side by contract (they return
# arrays/scalars/bounded samples, not distributed relations), so each
# key wraps the API call in a DISTRIBUTED verification plan whose output
# is exact-hashable against DuckDB:
#   - freqItems: the KPS candidate set is a guaranteed SUPERSET of the
#     truly-frequent items (possible false positives, never false
#     negatives) — intersecting candidates with exact counts > support·n
#     therefore yields EXACTLY the frequent-item set, which DuckDB
#     derives independently. A freqItems that dropped a frequent item
#     shows up as a missing row.
#   - approxQuantile: the KLL-key rank-bound pattern — the estimate's
#     exact rank interval [count(<est), count(<=est)]/n must intersect
#     [p − err − 1/n, p + err + 1/n] (the GK contract), emitted as a
#     boolean DuckDB states as literal TRUE.
#   - cov/corr: exact BIGINT component sums (quantity × discount-cents —
#     magnitudes safe in int64 beyond sf100) are the hashed payload; the
#     streaming-co-moment API values are checked against the
#     closed-form derivation at 1e-6 relative, vacuous on n < 2 or
#     zero variance (both engines yield NaN).
#   - sampleBy: per-stratum sampled counts within 6σ binomial bounds
#     (a fixed seed makes the count deterministic; the bound keeps the
#     check partition-layout-robust), with a zero-fraction stratum
#     pinned to exactly 0 rows.
# ---------------------------------------------------------------------------

_FREQ_SUPPORT = 0.2

_FREQ_ORACLE = f"""
WITH tot AS (SELECT count(*) AS n FROM documents),
freq AS (
  SELECT 'lang' AS col, lang AS item, count(*) AS n_item
  FROM documents GROUP BY lang
  UNION ALL
  SELECT 'source' AS col, source AS item, count(*) AS n_item
  FROM documents GROUP BY source
)
SELECT col, item, CAST(n_item AS BIGINT) AS n_item
FROM freq, tot WHERE n_item > {_FREQ_SUPPORT} * tot.n
ORDER BY col, item
"""


@register(
    "agg_freq_items",
    oracle=_FREQ_ORACLE,
    doc="df.stat.freqItems(['lang','source'], 0.2): KPS single-pass "
    "frequent-items candidates (bounded driver action: ≤ 1/support "
    "items per column), verified exactly — candidates ∩ {exact count > "
    "support·n} = the true frequent-item set because KPS never misses a "
    "frequent item. At sf0.01 'en' (43%) is frequent, every 5% source "
    "is not. Scale: KPS is one map-side pass with a 1/support-bounded "
    "summary per partition — no shuffle of the item domain.",
    tags=("agg", "sketch", "scale"),
)
def agg_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    row = docs.stat.freqItems(["lang", "source"], support=_FREQ_SUPPORT).first()
    cand = [("lang", i) for i in row["lang_freqItems"]] + [
        ("source", i) for i in row["source_freqItems"]
    ]
    from ..common import local_rows_df

    # r14: literal JVM rows — a Python-RDD-backed relation inside the
    # plan paid a Python-worker round trip per action (see common.
    # local_rows_df).
    cand_df = local_rows_df(spark, "col string, item string", cand)
    exact = (
        docs.groupBy(F.col("lang").alias("item"))
        .agg(F.count(F.lit(1)).alias("n_item"))
        .select(F.lit("lang").alias("col"), "item", "n_item")
        .unionAll(
            docs.groupBy(F.col("source").alias("item"))
            .agg(F.count(F.lit(1)).alias("n_item"))
            .select(F.lit("source").alias("col"), "item", "n_item")
        )
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n_total"))
    # eqNullSafe on item: freqItems counts NULL as a value and emits it
    # as a candidate (probed), and SQL GROUP BY retains the NULL group —
    # a null-unsafe join would silently drop a NULL frequent item (the
    # r13 skew fixture's 90%-NULL lang/source made NULL the ONLY
    # frequent item and exposed exactly that).
    cand2 = cand_df.select(
        F.col("col").alias("c_col"), F.col("item").alias("c_item")
    )
    return (
        exact.join(
            F.broadcast(cand2),
            (F.col("col") == F.col("c_col"))
            & F.col("item").eqNullSafe(F.col("c_item")),
        )
        .drop("c_col", "c_item")
        .crossJoin(F.broadcast(tot))
        .where(F.col("n_item") > _FREQ_SUPPORT * F.col("n_total"))
        .select("col", "item", F.col("n_item").cast("bigint").alias("n_item"))
        .orderBy("col", "item")
    )


_AQ_PS = [0.25, 0.5, 0.75]
_AQ_ERR = 0.01
# Finite-value gate shared by both sides: the adversarial fixture feeds
# ±1e300/Inf/NaN event values, and rank arithmetic over non-finite
# values is not a defined quantile contract in either engine.
_AQ_FILTER = (
    "value IS NOT NULL AND NOT isnan(value) "
    "AND value BETWEEN -1e300 AND 1e300"
)

_AQ_ORACLE = f"""
SELECT CAST(p AS DOUBLE) AS p, CAST(n AS BIGINT) AS n_vals, TRUE AS rank_ok
FROM (SELECT count(*) AS n FROM events WHERE {_AQ_FILTER}) t,
     (VALUES (0.25), (0.5), (0.75)) AS v(p)
WHERE n > 0
ORDER BY p
"""


@register(
    "agg_approx_quantile",
    oracle=_AQ_ORACLE,
    doc="df.stat.approxQuantile('value', [.25,.5,.75], 0.01): the "
    "Greenwald-Khanna sketch (bounded driver action: 3 floats), "
    "verified by the KLL-key rank-bound pattern — each estimate's exact "
    "rank interval [count(<est), count(<=est)]/n must intersect "
    "[p−err−1/n, p+err+1/n], the documented GK guarantee. Scale: GK "
    "keeps an O(1/err·log(err·n)) summary per partition and merges on "
    "the driver — quantiles without a global sort.",
    tags=("agg", "sketch", "scale"),
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(_AQ_FILTER)
        .select(F.col("value").cast("double").alias("v"))
    )
    from ..common import local_rows_df

    qs = ev.stat.approxQuantile("v", _AQ_PS, _AQ_ERR)
    if len(qs) < len(_AQ_PS):  # empty/all-null input: API returns []
        return local_rows_df(
            spark, "p double, n_vals bigint, rank_ok boolean", []
        )
    # r14: literal JVM rows (see common.local_rows_df)
    est = local_rows_df(
        spark, "p double, est double", list(zip(_AQ_PS, qs))
    )
    ranked = (
        ev.crossJoin(F.broadcast(est))
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n_vals"),
            F.avg(
                F.when(F.col("v") < F.col("est"), 1.0).otherwise(0.0)
            ).alias("rank_lo"),
            F.avg(
                F.when(F.col("v") <= F.col("est"), 1.0).otherwise(0.0)
            ).alias("rank_hi"),
        )
    )
    tol = F.lit(_AQ_ERR) + 1.0 / F.col("n_vals")
    return ranked.select(
        "p",
        F.col("n_vals").cast("bigint").alias("n_vals"),
        (
            (F.col("rank_lo") <= F.col("p") + tol)
            & (F.col("rank_hi") >= F.col("p") - tol)
        ).alias("rank_ok"),
    ).orderBy("p")


_COV_SUMS = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
  CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS sum_disc_c,
  CAST(sum(CAST(l_quantity AS BIGINT)
    * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS sum_q_disc_c,
  CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
    AS BIGINT) AS sum_qq,
  CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
    * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS sum_dd
FROM {lineitem}
"""

_COV_ORACLE = f"""
SELECT n_rows, sum_q, sum_disc_c, sum_q_disc_c, sum_qq, sum_dd,
  TRUE AS cov_api_ok, TRUE AS corr_api_ok
FROM ({_COV_SUMS}) s
"""


@register(
    "agg_cov_corr",
    oracle=_COV_ORACLE.format(lineitem="lineitem"),
    doc="df.stat.cov / df.stat.corr (quantity vs discount): the "
    "streaming-co-moment API scalars (bounded driver actions) checked "
    "at 1e-6 relative against the closed-form derivation from exact "
    "BIGINT component sums (discount in cents: magnitudes safe in int64 "
    "beyond sf100), which are the hashed payload. Vacuous-TRUE on n<2 "
    "or zero variance (both engines yield NaN there). Scale: one "
    "map-side-combine agg — six int64 cells cross the shuffle.",
    tags=("agg", "stats"),
)
def agg_cov_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    li = load_table(spark, sf_dir, "lineitem")
    sums = spark.sql(_COV_SUMS, lineitem=li).first()
    n = sums["n_rows"]
    api_cov = li.stat.cov("l_quantity", "l_discount")
    api_corr = li.stat.corr("l_quantity", "l_discount")

    def _close(a: float, b: float) -> bool:
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))

    if n < 2:
        cov_ok = corr_ok = True  # covar_samp/corr undefined — vacuous
    else:
        sq, sd = sums["sum_q"], sums["sum_disc_c"]
        sqd, sqq, sdd = sums["sum_q_disc_c"], sums["sum_qq"], sums["sum_dd"]
        # discount-cents → discount: divide one factor by 100
        exp_cov = (sqd - sq * sd / n) / 100.0 / (n - 1)
        var_q = n * sqq - sq * sq
        var_d = n * sdd - sd * sd
        exp_corr = (
            float("nan")
            if var_q == 0 or var_d == 0
            else (n * sqd - sq * sd) / math.sqrt(var_q) / math.sqrt(var_d)
        )
        cov_ok = _close(api_cov, exp_cov)
        corr_ok = _close(api_corr, exp_corr)
    from ..common import local_rows_df

    # r14: literal JVM row (see common.local_rows_df)
    return local_rows_df(
        spark,
        "n_rows bigint, sum_q bigint, sum_disc_c bigint, "
        "sum_q_disc_c bigint, sum_qq bigint, sum_dd bigint, "
        "cov_api_ok boolean, corr_api_ok boolean",
        [
            (
                n,
                sums["sum_q"],
                sums["sum_disc_c"],
                sums["sum_q_disc_c"],
                sums["sum_qq"],
                sums["sum_dd"],
                cov_ok,
                corr_ok,
            )
        ],
    )


_SAMPLEBY_FRACS = {"A": 0.1, "N": 0.3, "R": 0.0}

_SAMPLEBY_ORACLE = """
SELECT l_returnflag,
  CAST(count(*) AS BIGINT) AS n_total,
  CAST(CASE l_returnflag WHEN 'A' THEN 0.1 WHEN 'N' THEN 0.3
       ELSE 0.0 END AS DOUBLE) AS frac,
  TRUE AS within_6sigma
FROM lineitem
WHERE l_returnflag IN ('A', 'N', 'R')
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "agg_sample_by",
    oracle=_SAMPLEBY_ORACLE,
    doc="df.stat.sampleBy('l_returnflag', {A:0.1, N:0.3, R:0.0}, seed=7): "
    "per-stratum Bernoulli sampling, verified by exact per-stratum "
    "totals (the hashed payload) plus a 6σ binomial bound on each "
    "sampled count — layout-robust despite the fixed seed — with the "
    "zero-fraction stratum pinned to exactly 0 sampled rows. Scale: "
    "sampleBy is one stateless map-side filter, no shuffle; the "
    "verification aggs shuffle only the 3-key stratum domain.",
    tags=("agg", "sampling"),
)
def agg_sample_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag").where(
        F.col("l_returnflag").isin(list(_SAMPLEBY_FRACS))
    )
    sampled = li.stat.sampleBy("l_returnflag", _SAMPLEBY_FRACS, seed=7)
    n_samp = sampled.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_samp")
    )
    tot = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_total"))
    from ..common import local_rows_df

    # r14: literal JVM rows (see common.local_rows_df)
    frac_df = local_rows_df(
        spark, "l_returnflag string, frac double",
        list(_SAMPLEBY_FRACS.items()),
    )
    bound = 6.0 * F.sqrt(
        F.col("n_total") * F.col("frac") * (1.0 - F.col("frac"))
    )
    return (
        tot.join(F.broadcast(frac_df), "l_returnflag")
        .join(n_samp, "l_returnflag", "left")
        .na.fill({"n_samp": 0})
        .select(
            "l_returnflag",
            F.col("n_total").cast("bigint").alias("n_total"),
            "frac",
            (
                F.abs(F.col("n_samp") - F.col("frac") * F.col("n_total"))
                <= bound
            ).alias("within_6sigma"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# agg_sketch_theta_ops — the NATIVE Datasketches theta surface (Spark 4.1:
# theta_sketch_agg / theta_union / theta_intersection / theta_difference /
# theta_sketch_estimate), the built-in sibling of the hand-rolled KMV key
# (agg_sketch_kmv_intersect). Two customer sets (urgent-priority orderers
# vs finished-status orderers) are sketched once each, then all three set
# algebra results are estimated FROM THE SKETCHES. Verification follows
# the KLL rank-bound pattern: the exact distinct counts are the hashed
# payload (DuckDB derives them independently), and each estimate must sit
# within the theta error envelope — relative to the UNION size for the
# derived set ops, since intersection/difference error is bounded by the
# union's theta, not their own magnitude (Datasketches' documented
# behavior). At lgK=12 the sketches are in exact mode below 4096 entries
# (estimates equal exact counts through sf0.1); the bound is what makes
# the key scale-stable into estimation mode at sf1+. Scale: each sketch
# is one map-side-combine agg; 4 KB crosses the shuffle per sketch
# regardless of input size — the distinct-set-algebra path at 100 TB.
# ---------------------------------------------------------------------------

_THETA_EXACT = """
WITH a AS (SELECT DISTINCT o_custkey AS k FROM {orders}
           WHERE o_orderpriority = '1-URGENT'),
b AS (SELECT DISTINCT o_custkey AS k FROM {orders} WHERE o_orderstatus = 'F')
SELECT
  CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
  CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
  CAST((SELECT count(*) FROM
        (SELECT k FROM a UNION SELECT k FROM b) u) AS BIGINT) AS n_union,
  CAST((SELECT count(*) FROM
        (SELECT k FROM a INTERSECT SELECT k FROM b) i) AS BIGINT)
    AS n_inter,
  CAST((SELECT count(*) FROM
        (SELECT k FROM a EXCEPT SELECT k FROM b) d) AS BIGINT) AS n_diff
"""

_THETA_ORACLE = f"""
SELECT n_a, n_b, n_union, n_inter, n_diff,
  TRUE AS est_a_ok, TRUE AS est_b_ok, TRUE AS est_union_ok,
  TRUE AS est_inter_ok, TRUE AS est_diff_ok
FROM ({_THETA_EXACT}) x
"""

_THETA_SPARK = f"""
WITH ska AS (SELECT theta_sketch_agg(o_custkey) AS sk FROM {{orders}}
             WHERE o_orderpriority = '1-URGENT'),
skb AS (SELECT theta_sketch_agg(o_custkey) AS sk FROM {{orders}}
        WHERE o_orderstatus = 'F'),
est AS (
  SELECT
    coalesce(CAST(theta_sketch_estimate(ska.sk) AS BIGINT), 0) AS est_a,
    coalesce(CAST(theta_sketch_estimate(skb.sk) AS BIGINT), 0) AS est_b,
    coalesce(CAST(theta_sketch_estimate(theta_union(ska.sk, skb.sk))
      AS BIGINT), 0) AS est_u,
    coalesce(CAST(theta_sketch_estimate(theta_intersection(ska.sk, skb.sk))
      AS BIGINT), 0) AS est_i,
    coalesce(CAST(theta_sketch_estimate(theta_difference(ska.sk, skb.sk))
      AS BIGINT), 0) AS est_d
  FROM ska CROSS JOIN skb
),
exact AS ({_THETA_EXACT})
SELECT exact.n_a, exact.n_b, exact.n_union, exact.n_inter, exact.n_diff,
  abs(est.est_a - exact.n_a) <= greatest(2, CAST(0.05 * exact.n_a AS BIGINT))
    AS est_a_ok,
  abs(est.est_b - exact.n_b) <= greatest(2, CAST(0.05 * exact.n_b AS BIGINT))
    AS est_b_ok,
  abs(est.est_u - exact.n_union)
    <= greatest(2, CAST(0.05 * exact.n_union AS BIGINT)) AS est_union_ok,
  abs(est.est_i - exact.n_inter)
    <= greatest(2, CAST(0.05 * exact.n_union AS BIGINT)) AS est_inter_ok,
  abs(est.est_d - exact.n_diff)
    <= greatest(2, CAST(0.05 * exact.n_union AS BIGINT)) AS est_diff_ok
FROM est CROSS JOIN exact
"""


@register(
    "agg_sketch_theta_ops",
    oracle=_THETA_ORACLE.format(orders="orders"),
    doc="Native Datasketches theta set algebra (Spark 4.1): two customer "
    "sets sketched via theta_sketch_agg, union/intersection/difference "
    "estimated from the SKETCHES (theta_union/theta_intersection/"
    "theta_difference + theta_sketch_estimate), hash-pinned on the exact "
    "distinct counts with estimates held to the theta error envelope "
    "(union-relative for the derived ops). One map-side-combine agg per "
    "sketch — constant bytes cross the shuffle at any input size.",
    tags=("agg", "scale", "sketch"),
)
def agg_sketch_theta_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_THETA_SPARK, orders=load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# agg_regr_native — the ANSI linear-regression aggregate family (Spark 4:
# regr_slope / regr_intercept / regr_r2 / regr_count), per l_returnflag,
# price regressed on quantity. Native co-moment streams are float-order-
# dependent, so the cross-engine contract is the cov/corr pattern: exact
# BIGINT component sums (price in cents) are the hashed payload, and each
# native aggregate is compared IN-PLAN against the closed-form derivation
# at 1e-6 relative (vacuous-TRUE on n<2 or zero x-variance, where both
# engines yield NULL). sum(y²) needs DECIMAL(38,0) (cents² × 6M rows
# exceeds int64 by sf1) but feeds only the r2 boolean, never the hash.
# Scale: one map-side-combine hash agg, 3 groups — nothing else moves.
# ---------------------------------------------------------------------------

_REGR_EXACT_COLS = """
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS sum_p_cents,
  CAST(sum(CAST(l_quantity AS BIGINT)
    * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS sum_qp_cents,
  CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
    AS BIGINT) AS sum_qq
"""

_REGR_ORACLE = f"""
SELECT l_returnflag, {_REGR_EXACT_COLS},
  TRUE AS slope_ok, TRUE AS intercept_ok, TRUE AS r2_ok, TRUE AS count_ok
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
"""

# Derived values: x = quantity, y = price dollars = cents/100. The exact
# integer sums scale out of the cents unit at the comparison boundary.
_REGR_SPARK = f"""
WITH g AS (
  SELECT l_returnflag, {_REGR_EXACT_COLS},
    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS DECIMAL(38,0))
      * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      AS sum_pp_cents2,
    regr_count(l_extendedprice, l_quantity) AS api_n,
    regr_slope(l_extendedprice, l_quantity) AS api_slope,
    regr_intercept(l_extendedprice, l_quantity) AS api_intercept,
    regr_r2(l_extendedprice, l_quantity) AS api_r2
  FROM {{lineitem}} GROUP BY l_returnflag
),
d AS (
  SELECT *,
    CAST(n_rows * sum_qq - sum_q * sum_q AS DOUBLE) AS var_x,
    (n_rows * CAST(sum_qp_cents AS DOUBLE)
      - CAST(sum_q AS DOUBLE) * CAST(sum_p_cents AS DOUBLE)) / 100e0
      AS cov_xy_n,
    n_rows * sum_pp_cents2 / 10000e0
      - (CAST(sum_p_cents AS DOUBLE) / 100e0)
      * (CAST(sum_p_cents AS DOUBLE) / 100e0) AS var_y
  FROM g
)
SELECT l_returnflag, n_rows, sum_q, sum_p_cents, sum_qp_cents, sum_qq,
  CASE WHEN n_rows < 2 OR var_x = 0e0 THEN TRUE
    ELSE abs(api_slope - cov_xy_n / var_x)
      <= 1e-6 * greatest(1e0, abs(api_slope)) END AS slope_ok,
  CASE WHEN n_rows < 2 OR var_x = 0e0 THEN TRUE
    ELSE abs(api_intercept - (CAST(sum_p_cents AS DOUBLE) / 100e0
        - (cov_xy_n / var_x) * sum_q) / n_rows)
      <= 1e-6 * greatest(1e0, abs(api_intercept)) END AS intercept_ok,
  CASE WHEN n_rows < 2 OR var_x = 0e0 OR var_y <= 0e0 THEN TRUE
    ELSE abs(api_r2 - cov_xy_n * cov_xy_n / (var_x * var_y))
      <= 1e-6 * greatest(1e0, abs(api_r2)) END AS r2_ok,
  api_n = n_rows AS count_ok
FROM d ORDER BY l_returnflag
"""


@register(
    "agg_regr_native",
    oracle=_REGR_ORACLE,
    doc="ANSI regression aggregates (regr_slope/intercept/r2/count), "
    "price on quantity per returnflag: native co-moment values checked "
    "in-plan at 1e-6 relative against the closed form from exact BIGINT "
    "component sums (the hashed payload), vacuous on n<2 / zero "
    "variance. One hash agg, 3 groups — the regression-on-a-fact-table "
    "shape at any scale.",
    tags=("agg", "stats"),
)
def agg_regr_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_REGR_SPARK, lineitem=load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# agg_bitmap_native — the NATIVE bitmap aggregate surface (Spark 4:
# bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
# bitmap_count), the built-in sibling of agg_bitmap_distinct's hand-rolled
# 62-ids-per-word bit_or. EXACT distinct counting, so the result hashes
# directly against DuckDB's count(DISTINCT) — no error envelope needed.
# Scale: ids fold into one 4 KB bitmap per (group, 32k-id bucket) at the
# map side; the shuffle carries bitmaps instead of every id — the exact-
# distinct path when the sketch answer (HLL/theta) isn't acceptable.
# ---------------------------------------------------------------------------

_BITMAP_NATIVE_ORACLE = """
SELECT o_orderpriority,
  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

_BITMAP_NATIVE_SPARK = """
SELECT o_orderpriority,
  CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_distinct_cust
FROM (
  SELECT o_orderpriority, bitmap_bucket_number(o_custkey) AS bucket,
         bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS bm
  FROM {orders} GROUP BY o_orderpriority, bucket
) g GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register(
    "agg_bitmap_native",
    oracle=_BITMAP_NATIVE_ORACLE,
    doc="Native bitmap aggregates (bitmap_bucket_number/bit_position/"
    "construct_agg/count): exact per-priority distinct customers via "
    "bucketed bitmaps, hash-pinned directly against count(DISTINCT) — "
    "the built-in sibling of the hand-rolled word-packed key "
    "(agg_bitmap_distinct). Map-side bitmap fold; the shuffle carries "
    "one 4 KB bitmap per (group, 32k bucket) instead of every id.",
    tags=("agg", "scale"),
)
def agg_bitmap_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return spark.sql(_BITMAP_NATIVE_SPARK, orders=orders)


# ---------------------------------------------------------------------------
# agg_histogram_numeric — the native NGT streaming histogram (Spark:
# histogram_numeric(col, nb), the Ben-Haim/Tom-Tov sketch behind Hive's
# adaptive histograms), the approximate sibling of the exact fixed-bin key
# (agg_histogram). The sketch's contract, verified in-plan over the
# exploded (x, y) centroids: mass conservation (Σy = n exactly — bin
# merges ADD integer counts), centroid bounds (min ≤ x ≤ max), strict
# centroid order, and the bin-count cap. Exact n/min/max (cents) are the
# hashed payload; the same finite-value gate as approxQuantile keeps
# NaN/Inf out on both sides. Scale: per-partition NGT summaries of nb
# centroids merge associatively — constant state at any input size.
# ---------------------------------------------------------------------------

_HISTN_NB = 16

# The quantile gate's ±1e300 window still admits values whose CENTS cast
# overflows int64 (±1e300 · 100 = 1e302 — both engines raise); the
# histogram key's hashed min/max are cents, so its gate caps magnitude at
# 1e15 (cents ≤ 1e17, inside int64 at any later widening).
_HISTN_FILTER = f"{_AQ_FILTER} AND abs(value) <= 1e15"

_HISTN_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_vals,
  CAST(min(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_c,
  CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_c,
  TRUE AS mass_ok, TRUE AS bounds_ok, TRUE AS sorted_ok, TRUE AS nbins_ok
FROM events WHERE {_HISTN_FILTER}
HAVING count(*) > 0
"""

_HISTN_SPARK = f"""
WITH src AS (SELECT value FROM {{events}} WHERE {_HISTN_FILTER}),
h AS (SELECT histogram_numeric(value, {_HISTN_NB}) AS hist FROM src),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vals,
    CAST(min(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_c,
    CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_c
  FROM src
),
flat AS (
  SELECT b.x AS x, b.y AS y, pos
  FROM h LATERAL VIEW posexplode(h.hist) t AS pos, b
),
checks AS (
  SELECT sum(y) AS mass, count(*) AS nbins,
    min(x) AS x_lo, max(x) AS x_hi,
    sum(CASE WHEN nxt IS NOT NULL AND nxt <= x THEN 1 ELSE 0 END) AS inv
  FROM (SELECT x, y, pos, lead(x) OVER (ORDER BY pos) AS nxt FROM flat) o
)
SELECT s.n_vals, s.min_c, s.max_c,
  c.mass = CAST(s.n_vals AS DOUBLE) AS mass_ok,
  c.x_lo >= s.min_c / 100e0 - 1e-9 AND c.x_hi <= s.max_c / 100e0 + 1e-9
    AS bounds_ok,
  c.inv = 0 AS sorted_ok,
  c.nbins <= {_HISTN_NB} AND c.nbins > 0 AS nbins_ok
FROM stats s CROSS JOIN checks c
WHERE s.n_vals > 0
"""


@register(
    "agg_histogram_numeric",
    oracle=_HISTN_ORACLE,
    doc="Native NGT streaming histogram (histogram_numeric, the "
    "Ben-Haim/Tom-Tov sketch): centroids verified in-plan for mass "
    "conservation (Σy = n exactly), [min,max] bounds, strict order and "
    "the bin cap; exact n/min/max cents hashed. Per-partition constant-"
    "size summaries merge associatively — the distribution-profile path "
    "at any scale.",
    tags=("agg", "sketch", "scale"),
)
def agg_histogram_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_HISTN_SPARK, events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# agg_random_split — df.randomSplit([0.7, 0.2, 0.1], seed): the train/val/
# test partitioner every ML pipeline calls. Spark implements it as one
# rand(seed) draw per row against cumulative weight boundaries (with a
# per-partition sort for determinism), so the splits PARTITION the input:
# completeness (Σ counts = n) and disjointness (distinct keys across
# splits = n, custkey is unique) are EXACT checks, and each split size is
# held to a 6σ multinomial bound like sampleBy. n_total is the hashed
# payload. Scale: three stateless map-side filters over one scan — the
# sort is per-partition, nothing shuffles.
# ---------------------------------------------------------------------------

_SPLIT_WEIGHTS = [0.7, 0.2, 0.1]

_SPLIT_ORACLE = """
SELECT s.split_id,
  CAST(s.w AS DOUBLE) AS weight,
  CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_total,
  TRUE AS within_6sigma, TRUE AS complete_ok, TRUE AS disjoint_ok
FROM (VALUES (0, 0.7), (1, 0.2), (2, 0.1)) AS s(split_id, w)
ORDER BY s.split_id
"""


@register(
    "agg_random_split",
    oracle=_SPLIT_ORACLE,
    doc="df.randomSplit([.7,.2,.1], seed=11) over customer: completeness "
    "(split counts sum to n) and disjointness (distinct custkeys across "
    "splits = n) checked EXACTLY — randomSplit partitions its input — "
    "plus a 6σ multinomial bound per split size; n_total hashed. Three "
    "map-side filters over one scan, per-partition sort, no shuffle.",
    tags=("agg", "sampling"),
)
def agg_random_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    splits = cust.randomSplit(_SPLIT_WEIGHTS, seed=11)
    n_total = cust.count()
    counts = [s.count() for s in splits]
    distinct_union = (
        splits[0].unionAll(splits[1]).unionAll(splits[2]).distinct().count()
    )
    complete_ok = sum(counts) == n_total
    disjoint_ok = distinct_union == n_total
    wsum = sum(_SPLIT_WEIGHTS)
    rows = []
    for i, (w, c) in enumerate(zip(_SPLIT_WEIGHTS, counts)):
        p = w / wsum
        bound = 6.0 * math.sqrt(max(n_total, 1) * p * (1 - p))
        rows.append(
            (i, p * wsum, n_total, abs(c - p * n_total) <= bound,
             complete_ok, disjoint_ok)
        )
    from ..common import local_rows_df

    # r14: literal JVM rows (see common.local_rows_df)
    return local_rows_df(
        spark,
        "split_id int, weight double, n_total bigint, "
        "within_6sigma boolean, complete_ok boolean, disjoint_ok boolean",
        rows,
    ).orderBy("split_id")


# ---------------------------------------------------------------------------
# agg_describe_summary — df.summary(): the 8-statistic profile (count,
# mean, stddev, min, 25/50/75%, max) every exploration starts with. The
# API returns STRINGS, so the key parses them back and verifies each
# against its exact relational derivation: count/min/max exactly, mean at
# 1e-9 relative of the DECIMAL-exact mean, stddev at 1e-6 of the exact
# power sums, and the three percentiles by the approxQuantile rank-bound
# (summary uses approx_percentile at err=0.01). Exact n/min/max cents are
# the hashed payload. Bounded driver action (8 strings) by API contract.
# ---------------------------------------------------------------------------

_DESCRIBE_ORACLE = """
SELECT CAST(count(c_acctbal) AS BIGINT) AS n_rows,
  CAST(min(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS min_c,
  CAST(max(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS max_c,
  TRUE AS count_ok, TRUE AS min_ok, TRUE AS max_ok, TRUE AS mean_ok,
  TRUE AS stddev_ok, TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
FROM customer
HAVING count(c_acctbal) > 0
"""


@register(
    "agg_describe_summary",
    oracle=_DESCRIBE_ORACLE,
    doc="df.summary() over c_acctbal: the stringly 8-statistic profile "
    "parsed back and verified — count/min/max exactly, mean vs the "
    "DECIMAL-exact mean at 1e-9, stddev vs exact power sums at 1e-6, "
    "and the 25/50/75 percentiles by their approx_percentile rank "
    "bound (err 0.01 + 1/n floor). Exact n and cents extrema hashed. "
    "Scale: summary is one pass of mergeable aggregates.",
    tags=("agg", "stats"),
)
def agg_describe_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    # summary()'s statistics are all over NON-NULL values (count included)
    # — the exact derivation and the rank denominators must be too, or a
    # NULL-heavy column deflates every check (the r13 skew fixture's
    # 90%-NULL c_acctbal exposed this; on a null-free column the filter
    # is a no-op).
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_acctbal")
        .where(F.col("c_acctbal").isNotNull())
    )
    stats = {
        r["summary"]: r["c_acctbal"] for r in cust.summary().collect()
    }
    ex = spark.sql(
        """
SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(min(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS mn,
  CAST(max(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS mx,
  CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS s1,
  CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS DECIMAL(38,0))
    * CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS s2
FROM {cust}
""",
        cust=cust,
    ).first()
    n = ex["n"]
    from ..common import local_rows_df

    if n == 0:  # summary() on empty: count='0', others NULL — oracle empty
        return local_rows_df(
            spark,
            "n_rows bigint, min_c bigint, max_c bigint, count_ok boolean, "
            "min_ok boolean, max_ok boolean, mean_ok boolean, "
            "stddev_ok boolean, q25_ok boolean, q50_ok boolean, "
            "q75_ok boolean",
            [],
        )

    def close(a: float, b: float, rel: float) -> bool:
        return abs(a - b) <= rel * max(1.0, abs(a), abs(b))

    count_ok = int(stats["count"]) == n
    min_ok = close(float(stats["min"]), ex["mn"] / 100.0, 1e-12)
    max_ok = close(float(stats["max"]), ex["mx"] / 100.0, 1e-12)
    mean_ok = close(float(stats["mean"]), ex["s1"] / 100.0 / n, 1e-9)
    if n < 2:
        stddev_ok = stats["stddev"] in (None, "NaN")  # sample stddev undef
    else:
        var = (ex["s2"] - ex["s1"] * ex["s1"] / n) / 10000.0 / (n - 1)
        stddev_ok = close(float(stats["stddev"]), math.sqrt(max(var, 0.0)), 1e-6)
    # percentile rank bounds (summary uses approx_percentile, err 0.01)
    qs = {p: float(stats[f"{p}%"]) for p in (25, 50, 75)}
    # r14: literal JVM rows (see common.local_rows_df)
    est = local_rows_df(
        spark, "p double, est double",
        [(p / 100.0, v) for p, v in qs.items()],
    )
    ranked = {
        r["p"]: (r["lo"], r["hi"])
        for r in cust.crossJoin(F.broadcast(est))
        .groupBy("p")
        .agg(
            F.avg(F.when(F.col("c_acctbal") < F.col("est"), 1.0).otherwise(0.0)).alias("lo"),
            F.avg(F.when(F.col("c_acctbal") <= F.col("est"), 1.0).otherwise(0.0)).alias("hi"),
        )
        .collect()
    }
    tol = 0.01 + 1.0 / n
    q_ok = {
        p: ranked[p / 100.0][0] <= p / 100.0 + tol
        and ranked[p / 100.0][1] >= p / 100.0 - tol
        for p in (25, 50, 75)
    }
    # r14: literal JVM row (see common.local_rows_df)
    return local_rows_df(
        spark,
        "n_rows bigint, min_c bigint, max_c bigint, count_ok boolean, "
        "min_ok boolean, max_ok boolean, mean_ok boolean, "
        "stddev_ok boolean, q25_ok boolean, q50_ok boolean, q75_ok boolean",
        [
            (n, ex["mn"], ex["mx"], count_ok, min_ok, max_ok, mean_ok,
             stddev_ok, q_ok[25], q_ok[50], q_ok[75])
        ],
    )
