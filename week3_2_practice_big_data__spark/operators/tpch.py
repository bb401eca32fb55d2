"""TPC-H-shaped analytical query skeletons beyond Q1/Q3/Q5 (REF-ANALOG).

Q1's shape is `agg_groupby_multi`, Q3/Q5 live in operators/joins.py; this
module adds the remaining classic plan shapes the driver tables can express
(the tables are TPC-H-ish but not column-complete, so each query is the
standard skeleton adapted to the available columns — adaptations noted per
key). Money sums follow the repo-wide decimal discipline: DECIMAL(18,2)
inputs so grouped sums are exact and cross-engine bit-identical, CAST to
DOUBLE only on output.

Scale notes (100 TB): every query touches lineitem/orders exactly once;
dimension sides (nation, supplier, part sub-selects) broadcast; the only
big-table shuffles are the grouped aggregates on bounded keys. Semi/anti
forms (Q4's EXISTS, Q16's NOT IN) carry only the join key through the
shuffle, never the payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..registry import register


# ---------------------------------------------------------------------------
# Q4 — order priority checking: orders in a quarter with at least one line
# shipped after the order date (adaptation: the tables lack commit/receipt
# dates, so "late line" = l_shipdate > o_orderdate). EXISTS plans as a
# left-semi join on o_orderkey.
# ---------------------------------------------------------------------------

_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM {orders}
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM {lineitem}
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "join_q4_order_priority",
    oracle=_Q4_SQL.format(lineitem="lineitem", orders="orders"),
    doc="TPC-H Q4 skeleton: quarter filter + correlated EXISTS (line "
    "shipped after order date) -> left-semi join on o_orderkey -> priority "
    "counts. Semi join ships only the orderkey column of lineitem "
    "(REF-ANALOG).",
    tags=("join", "agg", "tpch"),
)
def join_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q4_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("orders", "lineitem")},
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations, by year. nation joins twice
# (supplier side, customer side) — both broadcast; year() returns INT in
# Spark and BIGINT in DuckDB, so both sides cast to INT.
# ---------------------------------------------------------------------------

_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
  CAST(sum(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
    CAST(year(l_shipdate) AS INT) AS l_year,
    CAST(l_extendedprice AS DECIMAL(18,2))
      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
  FROM {supplier}
  JOIN {lineitem} ON s_suppkey = l_suppkey
  JOIN {orders} ON o_orderkey = l_orderkey
  JOIN {customer} ON c_custkey = o_custkey
  JOIN {nation} n1 ON s_nationkey = n1.n_nationkey
  JOIN {nation} n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
     OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register(
    "join_q7_volume_shipping",
    oracle=_Q7_SQL.format(
        customer="customer", lineitem="lineitem", nation="nation", orders="orders",
        supplier="supplier",
    ),
    doc="TPC-H Q7 skeleton: directed trade volume between two nations (a pair "
    "with flows at every test scale, so the parity check is never "
    "vacuously empty-vs-empty) per "
    "ship year — nation broadcast-joined twice under an OR of direction "
    "pairs, exact decimal volume sums (REF-ANALOG).",
    tags=("join", "agg", "tpch"),
)
def join_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q7_SQL,
        **{
            t: load_table(spark, sf_dir, t)
            for t in ("supplier", "lineitem", "orders", "customer", "nation")
        },
    )


# ---------------------------------------------------------------------------
# Q10 — returned-item reporting: top-20 customers by revenue lost to
# returns in a quarter. revenue is an exact decimal sum cast to double, so
# the DESC sort boundary is bit-identical across engines; c_custkey breaks
# ties deterministically.
# ---------------------------------------------------------------------------

_Q10_SQL = """
SELECT c_custkey, c_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  c_acctbal, n_name
FROM {customer}
JOIN {orders} ON c_custkey = o_custkey
JOIN {lineitem} ON l_orderkey = o_orderkey
JOIN {nation} ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register(
    "join_q10_returned_item",
    oracle=_Q10_SQL.format(
        customer="customer", lineitem="lineitem", nation="nation", orders="orders"
    ),
    doc="TPC-H Q10 skeleton: returned-line revenue per customer in a "
    "quarter, nation broadcast, top-20 by exact decimal revenue "
    "(REF-ANALOG).",
    tags=("join", "agg", "tpch"),
)
def join_q10_returned_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q10_SQL,
        **{
            t: load_table(spark, sf_dir, t)
            for t in ("customer", "orders", "lineitem", "nation")
        },
    )


# ---------------------------------------------------------------------------
# Q14 — promotion effect: share of revenue from PROMO-type parts in a
# month. Both operands of the final division are exact decimal sums cast to
# DOUBLE; one IEEE division of identical doubles is itself identical, so no
# rounding is needed on the ratio.
# ---------------------------------------------------------------------------

_Q14_SQL = """
SELECT
  CAST(sum(CASE WHEN p_type = 'PROMO' THEN volume
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
  CAST(sum(volume) AS DOUBLE) AS total_revenue,
  CAST(sum(CASE WHEN p_type = 'PROMO' THEN volume
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
    / CAST(sum(volume) AS DOUBLE) AS promo_share
FROM (
  SELECT p_type,
    CAST(l_extendedprice AS DECIMAL(18,2))
      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
  FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
) priced
"""


@register(
    "agg_q14_promo_share",
    oracle=_Q14_SQL.format(lineitem="lineitem", part="part"),
    doc="TPC-H Q14 skeleton: PROMO revenue share in one month — "
    "conditional decimal aggregate over a part broadcast join; the ratio "
    "is a single IEEE division of two exact sums (REF-ANALOG).",
    tags=("agg", "tpch"),
)
def agg_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q14_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("lineitem", "part")},
    )


# ---------------------------------------------------------------------------
# Q16 — supplier-part relationship counting (adaptation: the tables have no
# partsupp, so supplier×part pairs come from lineitem; the excluded
# "complaint" suppliers are the low-balance ones). NOT IN list is non-null
# by construction (s_suppkey is a key), so the anti join is plain.
# ---------------------------------------------------------------------------

_Q16_SQL = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM {lineitem}
JOIN {part} ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 2, 3, 4, 5)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 1000)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


@register(
    "agg_q16_supplier_cnt",
    oracle=_Q16_SQL.format(lineitem="lineitem", part="part", supplier="supplier"),
    doc="TPC-H Q16 skeleton: distinct suppliers per (brand, size) slice "
    "with a NOT IN exclusion list — anti join against a tiny broadcast "
    "list, distinct count keyed on the grouped columns (REF-ANALOG; "
    "supplier×part pairs via lineitem, low-balance suppliers excluded).",
    tags=("agg", "join", "tpch"),
)
def agg_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q16_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("lineitem", "part", "supplier")},
    )


# ---------------------------------------------------------------------------
# Q18 — large-volume orders: customers whose single order exceeds 250 units
# (~top 1% of orders). l_quantity is integer-valued, so double sums stay
# exact far below 2^53 and the HAVING boundary is crisp.
# ---------------------------------------------------------------------------

_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
  CAST(sum(l_quantity) AS DOUBLE) AS total_qty
FROM {customer}
JOIN {orders} ON c_custkey = o_custkey
JOIN {lineitem} ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM {lineitem}
  GROUP BY l_orderkey
  HAVING sum(l_quantity) > 250)
GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


@register(
    "agg_q18_large_orders",
    oracle=_Q18_SQL.format(customer="customer", lineitem="lineitem", orders="orders"),
    doc="TPC-H Q18 skeleton: orders with >250 total units (IN over a "
    "grouped HAVING subquery -> semi join on orderkey), top-20 by order "
    "price. The qualifying-order list is aggregated once and semi-joined, "
    "not recomputed per row (REF-ANALOG).",
    tags=("agg", "join", "tpch"),
)
def agg_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q18_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem")},
    )


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier (adaptation: the tables lack partsupp, so the
# part↔supplier relationship is derived from lineitem and the "best"
# supplier per part is the max account balance among suppliers who shipped
# it — same plan shape: multi-dimension join reduced by a CORRELATED
# scalar-max subquery, then a total-order top-100). The eligible relation
# is bounded (p_size equality selects ~2% of parts; dims broadcast), so
# the CTE's two evaluations under Spark inlining stay small.
# ---------------------------------------------------------------------------

_Q2_SQL = """
WITH eligible AS (
  SELECT DISTINCT p_partkey, p_type, s_suppkey, s_acctbal, s_name, n_name
  FROM {part}
  JOIN {lineitem} ON p_partkey = l_partkey
  JOIN {supplier} ON s_suppkey = l_suppkey
  JOIN {nation} ON s_nationkey = n_nationkey
  JOIN {region} ON n_regionkey = r_regionkey
  WHERE p_size = 15 AND r_name = 'EUROPE'
)
SELECT p_partkey, p_type, s_name, n_name, s_acctbal
FROM eligible e
WHERE s_acctbal = (
  SELECT max(e2.s_acctbal) FROM eligible e2
  WHERE e2.p_partkey = e.p_partkey)
ORDER BY s_acctbal DESC, p_partkey, s_name
LIMIT 100
"""


@register(
    "qry_q2_top_supplier",
    oracle=_Q2_SQL.format(
        lineitem="lineitem", nation="nation", part="part", region="region",
        supplier="supplier",
    ),
    doc="TPC-H Q2 skeleton (partsupp-free adaptation): region-filtered "
    "part/supplier join, best supplier per part via correlated scalar "
    "max, deterministic total-order LIMIT 100. max over doubles is "
    "order-free; no arithmetic touches the carried values (REF-ANALOG).",
    tags=("qry", "join", "subquery", "tpch"),
)
def qry_q2_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The eligible relation is referenced twice (rows + correlated max);
    # Spark inlines CTEs, so materialize it once (CTE-inlining audit
    # discipline) — 10 scans → 0 on the tail.
    tables = {
        t: load_table(spark, sf_dir, t)
        for t in ("part", "lineitem", "supplier", "nation", "region")
    }
    body = _Q2_SQL.split("\n)\n", 1)
    eligible_sql = body[0].split("eligible AS (", 1)[1]
    eligible = spark.sql(eligible_sql, **tables).localCheckpoint(eager=True)
    return spark.sql(
        "WITH eligible AS (SELECT * FROM {eligible})\n" + body[1],
        eligible=eligible,
        **tables,
    )


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution: LEFT JOIN with the filter in the
# ON clause (the not-this-kind-of-order predicate must not turn the outer
# join inner — the classic Q13 trap), count per customer including the
# zero-order customers, then the histogram of counts.
# ---------------------------------------------------------------------------

_Q13_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM {customer} LEFT JOIN {orders}
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register(
    "agg_q13_cust_distribution",
    oracle=_Q13_SQL.format(customer="customer", orders="orders"),
    doc="TPC-H Q13 skeleton: outer-join order counting with the priority "
    "filter in the ON clause (zero-order customers survive), then the "
    "count-of-counts histogram. Counts only — no float hazard "
    "(REF-ANALOG).",
    tags=("agg", "join", "tpch"),
)
def agg_q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q13_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("customer", "orders")},
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue: brand/type-filtered lines kept only
# when quantity is below 20% of the PART's average quantity (correlated
# scalar-avg subquery). The average is the exact-DECIMAL sum divided once
# (cross-engine deterministic double), so the threshold comparison — the
# value that decides set membership — is bit-identical in both engines.
# ---------------------------------------------------------------------------

_Q17_SQL = """
SELECT CAST(coalesce(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 0)
    AS DOUBLE) / 7e0 AS avg_yearly
FROM {lineitem} JOIN {part} ON p_partkey = l_partkey
WHERE p_brand = 'Brand#4' AND p_type = 'MEDIUM'
  AND l_quantity < (
    SELECT 0.2e0 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2)))
        AS DOUBLE) / count(*))
    FROM {lineitem} l2 WHERE l2.l_partkey = p_partkey)
"""


@register(
    "agg_q17_small_qty_revenue",
    oracle=_Q17_SQL.format(lineitem="lineitem", part="part"),
    doc="TPC-H Q17 skeleton: correlated per-part average-quantity "
    "threshold (exact-DECIMAL avg -> one double divide, so the membership "
    "decision is bit-identical cross-engine), revenue of the "
    "below-threshold lines / 7 (REF-ANALOG).",
    tags=("agg", "subquery", "tpch"),
)
def agg_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q17_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("lineitem", "part")},
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (adaptation: no commit/receipt
# dates, so "late" = shipped > 60 days after the order date). Expressed in
# the decorrelated relational form both engines share: per (order,
# supplier) late flag, per order supplier/late counts, then keep the
# suppliers who were the ONLY late supplier on a multi-supplier finished
# order — the EXISTS/NOT-EXISTS pair of the original as two aggregate
# predicates. Counts only.
# ---------------------------------------------------------------------------

_Q21_SQL = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey,
    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        THEN 1 ELSE 0 END) AS supp_late
  FROM {lineitem} JOIN {orders} ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
),
per_o AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(supp_late) AS n_late
  FROM per_os GROUP BY l_orderkey
)
SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_os po
JOIN per_o o ON po.l_orderkey = o.l_orderkey
JOIN {supplier} ON s_suppkey = po.l_suppkey
JOIN {nation} ON s_nationkey = n_nationkey
WHERE po.supp_late = 1 AND o.n_supp > 1 AND o.n_late = 1
GROUP BY s_name, n_name
ORDER BY numwait DESC, s_name
"""


@register(
    "join_q21_waiting_supplier",
    oracle=_Q21_SQL.format(
        lineitem="lineitem", nation="nation", orders="orders", supplier="supplier"
    ),
    doc="TPC-H Q21 skeleton (late = shipped >60 days after order date): "
    "sole-late-supplier detection on multi-supplier finished orders — "
    "the EXISTS/NOT-EXISTS pair decorrelated into per-order aggregate "
    "predicates; dims broadcast, counts only (REF-ANALOG).",
    tags=("join", "agg", "tpch"),
)
def join_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per_os is referenced twice (per-order rollup + the final join);
    # materialize it once so the lineitem⋈orders aggregate runs a single
    # time under Spark's CTE inlining (6 scans → 2 + checkpoint).
    tables = {
        t: load_table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "supplier", "nation")
    }
    per_os_sql = _Q21_SQL.split("per_os AS (", 1)[1].split("\n),\n", 1)[0]
    per_os = spark.sql(per_os_sql, **tables).localCheckpoint(eager=True)
    tail = _Q21_SQL.split("\n),\n", 1)[1]
    return spark.sql(
        "WITH per_os AS (SELECT * FROM {per_os}),\n" + tail,
        per_os=per_os,
        **tables,
    )


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (adaptation: no phone column, so the
# country code is c_nationkey % 5, and the no-orders predicate is
# no-URGENT-orders — on these tables every customer has some order):
# positive-balance average as the threshold (exact-DECIMAL avg),
# NOT EXISTS -> anti join, grouped by code.
# ---------------------------------------------------------------------------

_Q22_SQL = """
WITH avg_bal AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
    AS a
  FROM {customer} WHERE c_acctbal > 0e0
)
SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM (
  SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode, c_acctbal
  FROM {customer} CROSS JOIN avg_bal
  WHERE c_acctbal > a
    AND NOT EXISTS (SELECT 1 FROM {orders}
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
) eligible
GROUP BY cntrycode
ORDER BY cntrycode
"""


@register(
    "qry_q22_idle_customers",
    oracle=_Q22_SQL.format(customer="customer", orders="orders"),
    doc="TPC-H Q22 skeleton (country code = nationkey % 5): exact-DECIMAL "
    "positive-balance average as threshold, NOT EXISTS anti join against "
    "urgent orders, per-code count + exact balance total (REF-ANALOG).",
    tags=("qry", "agg", "subquery", "tpch"),
)
def qry_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q22_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("customer", "orders")},
    )


# ---------------------------------------------------------------------------
# Q6 — forecasting revenue change: THE scan benchmark — a single lineitem
# pass with three range predicates (all pushed to parquet) and one exact
# sum. No joins, no grouping: the query is the predicate-pushdown +
# column-pruning test in its purest form.
# ---------------------------------------------------------------------------

_Q6_SQL = """
SELECT CAST(coalesce(sum(
    CAST(l_extendedprice AS DECIMAL(18,2))
      * CAST(l_discount AS DECIMAL(18,2))), 0) AS DOUBLE) AS revenue
FROM {lineitem}
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05e0 AND 0.07e0
  AND l_quantity < 24e0
"""


@register(
    "agg_q6_forecast_revenue",
    oracle=_Q6_SQL.format(lineitem="lineitem"),
    doc="TPC-H Q6 skeleton: single-scan range-predicate revenue sum — "
    "all three predicates pushed to parquet, two-column ReadSchema, one "
    "exact DECIMAL product-sum (REF-ANALOG; the pushdown benchmark).",
    tags=("agg", "scan", "tpch"),
)
def agg_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q6_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("lineitem",)},
    )


# ---------------------------------------------------------------------------
# Q8 — national market share: the deepest star this schema supports —
# lineitem at the center, part filter, supplier→nation (share nation),
# orders→customer→nation→region (market region filter), per-year share of
# one nation's volume in the region's total. Share = exact-DECIMAL yearly
# sums divided once.
# ---------------------------------------------------------------------------

_Q8_SQL = """
SELECT o_year,
  CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_18' THEN volume
      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
    / CAST(sum(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
    CAST(l_extendedprice AS DECIMAL(18,2))
      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
    n2.n_name AS supp_nation
  FROM {lineitem}
  JOIN {part} ON p_partkey = l_partkey
  JOIN {supplier} ON s_suppkey = l_suppkey
  JOIN {orders} ON o_orderkey = l_orderkey
  JOIN {customer} ON c_custkey = o_custkey
  JOIN {nation} n1 ON c_nationkey = n1.n_nationkey
  JOIN {region} ON n1.n_regionkey = r_regionkey
  JOIN {nation} n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


@register(
    "join_q8_market_share",
    oracle=_Q8_SQL.format(
        customer="customer", lineitem="lineitem", nation="nation", orders="orders",
        part="part", region="region", supplier="supplier",
    ),
    doc="TPC-H Q8 skeleton: 7-join star (nation twice — supplier and "
    "customer sides), region + part-type filters, per-year market share "
    "as a ratio of exact-DECIMAL sums divided once (REF-ANALOG; every "
    "dimension broadcasts, lineitem scans once).",
    tags=("join", "agg", "tpch"),
)
def join_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q8_SQL,
        **{
            t: load_table(spark, sf_dir, t)
            for t in (
                "lineitem", "part", "supplier", "orders", "customer", "nation",
                "region",
            )
        },
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier: the revenue "view" (a CTE here) aggregated per
# supplier over a quarter, then the suppliers matching the global max
# revenue (scalar subquery over the same view). The twice-referenced view
# is materialized once on the Spark side (CTE-inlining discipline); the
# revenue values compared for the max are exact-DECIMAL sums cast once,
# so the equality is cross-engine deterministic.
# ---------------------------------------------------------------------------

_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
  FROM {lineitem}
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM {supplier} JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register(
    "agg_q15_top_supplier",
    oracle=_Q15_SQL.format(lineitem="lineitem", supplier="supplier"),
    doc="TPC-H Q15 skeleton: quarterly per-supplier revenue view + "
    "global-max scalar subquery over the same view (materialized once "
    "Spark-side); exact-DECIMAL revenue makes the max-equality "
    "deterministic (REF-ANALOG).",
    tags=("agg", "subquery", "tpch"),
)
def agg_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = {t: load_table(spark, sf_dir, t) for t in ("lineitem", "supplier")}
    rev_sql = _Q15_SQL.split("revenue AS (", 1)[1].split("\n)\n", 1)[0]
    revenue = spark.sql(rev_sql, **tables).localCheckpoint(eager=True)
    tail = _Q15_SQL.split("\n)\n", 1)[1]
    return spark.sql(
        "WITH revenue AS (SELECT * FROM {revenue})\n" + tail,
        revenue=revenue,
        **tables,
    )


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (adaptation: no container/shipmode columns, so
# the three OR-ed brackets pair p_brand with a quantity band and a size
# band). The SHAPE is the point: a disjunctive multi-bracket predicate
# that must still plan as ONE broadcast hash join on p_partkey with the
# brackets as a post-join filter — not three unioned scans.
# ---------------------------------------------------------------------------

_Q19_SQL = """
SELECT CAST(coalesce(sum(
    CAST(l_extendedprice AS DECIMAL(18,2))
      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 0) AS DOUBLE) AS revenue
FROM {lineitem} JOIN {part} ON p_partkey = l_partkey
WHERE
  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
    AND l_quantity >= 1e0 AND l_quantity <= 11e0)
  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
    AND l_quantity >= 10e0 AND l_quantity <= 20e0)
  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
    AND l_quantity >= 20e0 AND l_quantity <= 30e0)
"""


@register(
    "join_q19_bracket_revenue",
    oracle=_Q19_SQL.format(lineitem="lineitem", part="part"),
    doc="TPC-H Q19 skeleton (brand/size/quantity brackets): disjunctive "
    "three-bracket predicate planned as ONE broadcast join + post-join "
    "filter, exact-DECIMAL revenue (REF-ANALOG).",
    tags=("join", "agg", "tpch"),
)
def join_q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q19_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("lineitem", "part")},
    )


# ---------------------------------------------------------------------------
# Q9 — product type profit (adaptation: no partsupp, so the supply cost
# stand-in is 60% of p_retailprice). To keep the profit sum exact in both
# engines WITHOUT a 0.6 decimal literal (whose product would blow the
# 38-digit cap and round), the whole profit is scaled by 5:
# 5*volume - 3*retail*qty, summed as exact DECIMAL, cast to DOUBLE and
# divided by 5 once — one IEEE division of identical doubles.
# ---------------------------------------------------------------------------

_Q9_SQL = """
SELECT nation, o_year, CAST(sum(amount_x5) AS DOUBLE) / 5e0 AS sum_profit
FROM (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
    5 * (CAST(l_extendedprice AS DECIMAL(18,2))
         * (1 - CAST(l_discount AS DECIMAL(18,2))))
      - 3 * (CAST(p_retailprice AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(4,0))) AS amount_x5
  FROM {lineitem}
  JOIN {part} ON p_partkey = l_partkey
  JOIN {supplier} ON s_suppkey = l_suppkey
  JOIN {nation} ON s_nationkey = n_nationkey
  JOIN {orders} ON o_orderkey = l_orderkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@register(
    "join_q9_product_profit",
    oracle=_Q9_SQL.format(
        lineitem="lineitem", nation="nation", orders="orders", part="part",
        supplier="supplier",
    ),
    doc="TPC-H Q9 skeleton (supply cost = 60% of p_retailprice — no "
    "partsupp): name-filtered profit per supplier nation and order year. "
    "part/supplier/nation broadcast; the only big-big join is "
    "lineitem⋈orders on orderkey; profit carried x5 so the 60% factor "
    "stays inside exact DECIMAL, one double divide at the end "
    "(REF-ANALOG).",
    tags=("join", "agg", "tpch"),
)
def join_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q9_SQL,
        **{
            t: load_table(spark, sf_dir, t)
            for t in ("lineitem", "part", "supplier", "nation", "orders")
        },
    )


# ---------------------------------------------------------------------------
# Q11 — important stock (adaptation: no partsupp, so a part's "stock
# value" is the extendedprice-weighted quantity shipped by suppliers of
# one REGION; the original's single-nation filter keeps ~4% of suppliers,
# a region here keeps 1/5 — same selectivity idea at these table sizes).
# The per-part aggregate is referenced twice (rows + the global-total
# scalar threshold) — the classic twice-referenced-view shape of Q15.
# ---------------------------------------------------------------------------

_Q11_SQL = """
WITH partval AS (
  SELECT l_partkey,
    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        * CAST(l_quantity AS DECIMAL(4,0))) AS val
  FROM {lineitem}
  JOIN {supplier} ON s_suppkey = l_suppkey
  JOIN {nation} ON s_nationkey = n_nationkey
  WHERE n_regionkey = 2
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
FROM partval
WHERE CAST(val AS DOUBLE) >
  (SELECT CAST(sum(val) AS DOUBLE) * 0.001e0 FROM partval)
ORDER BY part_value DESC, l_partkey
"""


@register(
    "agg_q11_important_stock",
    oracle=_Q11_SQL.format(lineitem="lineitem", nation="nation", supplier="supplier"),
    doc="TPC-H Q11 skeleton (stock value from lineitem, one region of "
    "suppliers): per-part exact-DECIMAL value, kept when above 0.1% of "
    "the global total (scalar subquery over the SAME aggregate — "
    "materialized once Spark-side). Both comparison operands are exact "
    "sums cast to DOUBLE, so the threshold decision is bit-identical "
    "(REF-ANALOG).",
    tags=("agg", "subquery", "tpch"),
)
def agg_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    # partval feeds both the row set and the global threshold; Spark
    # inlines CTEs, so materialize it once (CTE-inlining discipline).
    tables = {
        t: load_table(spark, sf_dir, t) for t in ("lineitem", "supplier", "nation")
    }
    pv_sql = _Q11_SQL.split("partval AS (", 1)[1].split("\n)\n", 1)[0]
    partval = spark.sql(pv_sql, **tables).localCheckpoint(eager=True)
    tail = _Q11_SQL.split("\n)\n", 1)[1]
    return spark.sql(
        "WITH partval AS (SELECT * FROM {partval})\n" + tail,
        partval=partval,
        **tables,
    )


# ---------------------------------------------------------------------------
# Q12 — shipping modes and order priority (adaptation: no l_shipmode /
# commit / receipt dates, so the "mode" is the ship-delay class — SLOW
# when the line shipped >30 days after the order date — over one ship
# year). The shape is Q12's exactly: lineitem⋈orders on orderkey, CASE
# sums splitting urgent/high priority from the rest. Counts only.
# ---------------------------------------------------------------------------

_Q12_SQL = """
SELECT delay_class,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM (
  SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
              THEN 'SLOW' ELSE 'FAST' END AS delay_class,
    o_orderpriority
  FROM {lineitem} JOIN {orders} ON l_orderkey = o_orderkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
) classed
GROUP BY delay_class
ORDER BY delay_class
"""


@register(
    "join_q12_ship_priority",
    oracle=_Q12_SQL.format(lineitem="lineitem", orders="orders"),
    doc="TPC-H Q12 skeleton (mode = ship-delay class, >30 days = SLOW): "
    "lineitem⋈orders on orderkey with the year filter pushed to the "
    "lineitem scan, priority split as conditional counts — integers "
    "only, no float hazard (REF-ANALOG).",
    tags=("join", "agg", "tpch"),
)
def join_q12_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q12_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("lineitem", "orders")},
    )


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (adaptation: no partsupp availqty, so a
# supplier "has excess stock" when some red part shipped >40 units from
# it in the year — the original's availqty > half-of-shipped threshold
# becomes a HAVING on the shipped aggregate itself). The double-nested
# IN chain decorrelates to: grouped HAVING subquery -> semi join on
# suppkey -> broadcast nation filter. Strings out, counts inside.
# ---------------------------------------------------------------------------

_Q20_SQL = """
SELECT s_name, n_name
FROM {supplier}
JOIN {nation} ON s_nationkey = n_nationkey
WHERE n_regionkey = 2
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM {lineitem} JOIN {part} ON p_partkey = l_partkey
    WHERE p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 40)
ORDER BY s_name
"""


@register(
    "join_q20_promo_suppliers",
    oracle=_Q20_SQL.format(
        lineitem="lineitem", nation="nation", part="part", supplier="supplier"
    ),
    doc="TPC-H Q20 skeleton (excess stock = >40 units of one red part "
    "shipped in the year): grouped-HAVING subquery -> left-semi join on "
    "s_suppkey -> broadcast nation region filter. l_quantity sums are "
    "integer-valued doubles, exact far below 2^53 (REF-ANALOG).",
    tags=("join", "agg", "subquery", "tpch"),
)
def join_q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q20_SQL,
        **{
            t: load_table(spark, sf_dir, t)
            for t in ("supplier", "nation", "lineitem", "part")
        },
    )
