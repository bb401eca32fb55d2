"""Join operators (SURVEY.md §2.1-D).

The reference has no relational joins, but two of its computations are
join-shaped: the meshgrid pixel grid (np.meshgrid at app.py:41-43 — a
cartesian product) and NumPy scalar-over-grid broadcasting (app.py:70-81 —
a broadcast hash join of per-blob params onto pixels). Those two are REF;
the standard keyed joins are REF-ANALOG on the driver star schema.

Scale notes (100 TB):
- `join_broadcast_params` / dimension joins use an explicit `broadcast()`
  hint — the dimension side is tiny, so no shuffle of the fact table.
- `join_inner_equi` on lineitem⋈orders is the shuffle join; at scale the
  right design is co-partitioning/bucketing both tables on orderkey so the
  sort-merge join needs no exchange. AQE handles skew splitting.
- `join_range_theta` is equi on user_id + range on ts, so it stays a
  sort-merge join on the equi key (never a nested-loop over the fact table).
- `join_cross_meshgrid` is the one intentional cartesian product; its inputs
  are axis tables (O(√pixels)), never fact tables.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..registry import register
from ..common import dec as _dec, scratch_dir
from .. import synth


# ---------------------------------------------------------------------------
# join_cross_meshgrid — np.meshgrid(xs, ys) → pixel grid (app.py:41-43).
# ---------------------------------------------------------------------------

_GRID_N = 64


def _meshgrid_sql(dialect: str) -> str:
    x = synth.linspace("c.col", "0e0", "1e0", _GRID_N)
    y = synth.linspace("r.row", "0e0", "1e0", _GRID_N)
    return (
        f"SELECT r.row, c.col, {x} AS x, {y} AS y\n"
        f"FROM {synth.series_sql(_GRID_N, 'row', dialect)} r\n"
        f"CROSS JOIN {synth.series_sql(_GRID_N, 'col', dialect)} c\n"
        "ORDER BY r.row, c.col"
    )


@register(
    "join_cross_meshgrid",
    oracle=_meshgrid_sql("duckdb"),
    doc="Cartesian product of axis series → (row, col, x, y) pixel grid "
    "(np.meshgrid, app.py:41-43).",
    tags=("join", "generative"),
)
def join_cross_meshgrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_meshgrid_sql("spark"))


# ---------------------------------------------------------------------------
# join_broadcast_params — NumPy broadcasting of per-blob scalars across the
# pixel grid (X - cx at app.py:70-71; base * shade at app.py:79-80).
# ---------------------------------------------------------------------------

_BCAST_N = 32


def _broadcast_params_sql(dialect: str) -> str:
    x = synth.linspace("g.col", "0e0", "1e0", _BCAST_N)
    y = synth.linspace("g.row", "0e0", "1e0", _BCAST_N)
    return (
        f"SELECT b.blob_id, g.row, g.col,\n"
        f"  {synth.q6(f'{x} - b.cx')} AS dx,\n"
        f"  {synth.q6(f'{y} - b.cy')} AS dy\n"
        f"FROM ({synth.blobs_sql(42, 6, dialect)}) b\n"
        f"CROSS JOIN (SELECT r.row, c.col FROM {synth.series_sql(_BCAST_N, 'row', dialect)} r "
        f"CROSS JOIN {synth.series_sql(_BCAST_N, 'col', dialect)} c) g"
    )


@register(
    "join_broadcast_params",
    oracle=_broadcast_params_sql("duckdb"),
    doc="Broadcast of per-blob scalars over the pixel grid — NumPy "
    "broadcasting as a broadcast join (app.py:70-71,79-80).",
    tags=("join", "generative"),
)
def join_broadcast_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same plan via DataFrame API with an explicit broadcast hint: the blob
    # param table is the small side, pixels the big side.
    blobs = spark.sql(synth.blobs_sql(42, 6, "spark"))
    rows = spark.sql(f"SELECT row FROM {synth.series_sql(_BCAST_N, 'row', 'spark')}")
    cols = spark.sql(f"SELECT col FROM {synth.series_sql(_BCAST_N, 'col', 'spark')}")
    grid = rows.crossJoin(cols)
    x = F.expr(synth.linspace("col", "0e0", "1e0", _BCAST_N))
    y = F.expr(synth.linspace("row", "0e0", "1e0", _BCAST_N))
    return (
        grid.crossJoin(F.broadcast(blobs))
        .select(
            "blob_id",
            "row",
            "col",
            F.expr(synth.q6(synth.linspace("col", "0e0", "1e0", _BCAST_N) + " - cx")).alias("dx"),
            F.expr(synth.q6(synth.linspace("row", "0e0", "1e0", _BCAST_N) + " - cy")).alias("dy"),
        )
    )


# ---------------------------------------------------------------------------
# join_inner_equi — REF-ANALOG keyed equi-join (lineitem ⋈ orders).
# ---------------------------------------------------------------------------

_INNER_ORACLE = """
SELECT o_orderpriority,
  COUNT(*) AS n_lines,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "join_inner_equi",
    oracle=_INNER_ORACLE,
    doc="Shuffle equi-join lineitem⋈orders + grouped revenue (REF-ANALOG).",
    tags=("join", "bench"),
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# join_outer — REF-ANALOG left outer join (customers with zero orders kept).
# ---------------------------------------------------------------------------

_OUTER_ORACLE = """
SELECT c_custkey,
  COUNT(o_orderkey) AS n_orders,
  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
ORDER BY c_custkey
"""


@register(
    "join_outer",
    oracle=_OUTER_ORACLE,
    doc="Left outer join customer⟕orders preserving order-less customers "
    "(REF-ANALOG).",
    tags=("join",),
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# join_semi_anti — REF-ANALOG left-semi / left-anti joins.
# ---------------------------------------------------------------------------

_SEMI_ANTI_ORACLE = """
SELECT 'semi' AS kind, COUNT(*) AS n FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT 'anti' AS kind, COUNT(*) AS n FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY kind
"""


@register(
    "join_semi_anti",
    oracle=_SEMI_ANTI_ORACLE,
    doc="left_semi (customers with orders) and left_anti (without) joins "
    "(REF-ANALOG).",
    tags=("join",),
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cond = customer.c_custkey == orders.o_custkey
    semi = customer.join(orders, cond, "left_semi").agg(
        F.lit("semi").alias("kind"), F.count(F.lit(1)).alias("n")
    )
    anti = customer.join(orders, cond, "left_anti").agg(
        F.lit("anti").alias("kind"), F.count(F.lit(1)).alias("n")
    )
    return semi.unionByName(anti).orderBy("kind")


# ---------------------------------------------------------------------------
# join_range_theta — REF-ANALOG non-equi (theta) join: equi on user_id plus
# a time-range predicate, so Spark keeps a sort-merge join on the equi key.
# ---------------------------------------------------------------------------

_RANGE_ORACLE = """
SELECT e.user_id, COUNT(*) AS n_pairs
FROM events e JOIN events p
  ON e.user_id = p.user_id
 AND p.ts > e.ts
 AND p.ts <= e.ts + INTERVAL 10 MINUTE
WHERE e.event_type = 'error' AND p.event_type = 'purchase'
GROUP BY e.user_id
ORDER BY e.user_id
"""


@register(
    "join_range_theta",
    oracle=_RANGE_ORACLE,
    doc="Range/theta join: purchases within 10min after an error, per user "
    "(REF-ANALOG; equi key keeps it sort-merge, not nested-loop).",
    tags=("join", "bench"),
)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("u"), F.col("ts").alias("ets")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    return (
        err.join(
            pur,
            (F.col("u") == F.col("pu"))
            & (F.col("pts") > F.col("ets"))
            & (F.col("pts") <= F.col("ets") + F.expr("INTERVAL 10 MINUTES")),
        )
        .groupBy(F.col("u").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# join_asof — as-of join via the union+window trick (SURVEY §2.1-D noted this
# as out-of-scope-but-achievable; implemented because it is the canonical
# time-series join a training-data pipeline needs).
# For each 'purchase' event: the most recent 'click' of the same user at or
# before it. Union both sides tagged, propagate the last click ts with a
# running last_value over (user, ts) — one shuffle, no range self-join.
# ---------------------------------------------------------------------------


def _asof_sql(dialect: str) -> str:
    epoch = "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"
    return f"""
WITH tagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type = 'click' THEN {epoch} END AS click_us,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase
  FROM {{events}}
  WHERE event_type IN ('click', 'purchase')
),
carried AS (
  SELECT user_id, ts, event_id, is_purchase,
    max(click_us) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS asof_click_us
  FROM tagged
)
SELECT user_id, event_id AS purchase_event_id,
  coalesce(asof_click_us, -1) AS asof_click_us,
  coalesce({epoch} - asof_click_us, -1) AS us_since_click
FROM carried
WHERE is_purchase = 1
ORDER BY user_id, purchase_event_id
"""


@register(
    "join_asof",
    oracle=_asof_sql("duckdb").format(events="events"),
    doc="As-of join (last click at-or-before each purchase per user) via "
    "union+running-max window — no range self-join (beyond-checklist).",
    tags=("join", "window"),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_asof_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# join_bucketed_colocated — bucketed tables joined WITHOUT a shuffle.
# Both sides are written bucketed by the join key into external tables
# (repo-local .tmp warehouse path); the sort-merge join then reads
# co-located buckets with no Exchange on either side — the 100 TB answer to
# repeated fact-fact joins. Oracle: same revenue aggregate off the raw
# tables (bucketing must not change results, only the plan).
# ---------------------------------------------------------------------------

_BUCKETS = 8

_BUCKETED_ORACLE = """
SELECT o_orderpriority,
  COUNT(*) AS n_lines,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "join_bucketed_colocated",
    oracle=_BUCKETED_ORACLE,
    doc="Exchange-free sort-merge join via bucketBy(orderkey) tables — "
    "co-located join layout for repeated fact-fact joins at scale "
    "(REF-ANALOG, scale).",
    tags=("join", "scale"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    base = scratch_dir(sf_dir, "bucketed")
    sfx = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    lt, ot = f"w32bd_li_{sfx}", f"w32bd_ord_{sfx}"
    catalog = spark.catalog
    # Validate the backing scratch files, not just the catalog entry: .tmp/
    # is disposable, so a registered table may point at deleted parquet.
    for tbl, sub in ((lt, "lineitem"), (ot, "orders")):
        if catalog.tableExists(tbl) and not os.path.isdir(os.path.join(base, sub)):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if not catalog.tableExists(lt):
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice")
            .write.mode("overwrite")
            .option("path", os.path.join(base, "lineitem"))
            .bucketBy(_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable(lt)
        )
    if not catalog.tableExists(ot):
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .write.mode("overwrite")
            .option("path", os.path.join(base, "orders"))
            .bucketBy(_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(ot)
        )
    li, orders = spark.table(lt), spark.table(ot)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# join_salted_skew — the manual skew-join pattern made explicit: salt the
# fact side into _N_JSALT sub-keys, replicate the dim side ×_N_JSALT
# (explode), join on (key, salt). Equals the plain join (the oracle); at
# 100 TB a hot orderkey's rows land on _N_JSALT reducers instead of one.
# AQE's skewedJoin does this adaptively from shuffle stats; salting is the
# deterministic manual form (and the only option for windowed/agg skew).
# Production salt = pmod(hash(key), N); here pmod(l_linenumber, N) keeps the
# assignment deterministic for the bit-exact gate.
# ---------------------------------------------------------------------------

_N_JSALT = 8

_JSALT_ORACLE = """
SELECT o_orderpriority,
  COUNT(*) AS n,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register(
    "join_salted_skew",
    oracle=_JSALT_ORACLE,
    doc="Salted skew join: fact salted to (key, salt), dim replicated "
    "×salt via explode, equi-join on both — equals the plain join, bounds "
    "any single reducer's load (REF-ANALOG, scale).",
    tags=("join", "scale"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "_salt", F.pmod(F.col("l_linenumber"), F.lit(_N_JSALT))
    )
    ords = load_table(spark, sf_dir, "orders").withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(_N_JSALT - 1)))
    )
    return (
        li.join(
            ords,
            (li.l_orderkey == ords.o_orderkey) & (li._salt == ords._salt),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Classic multi-join analytic shapes (REF-ANALOG; TPC-H Q3/Q5 skeletons
# adapted to the driver star schema). These exist to exercise the plans a
# warehouse user actually runs: selective dim filter -> 3-to-6-way join ->
# grouped decimal aggregate -> top-k. At 100 TB the only big relation is
# lineitem/orders; customer/supplier/nation/region are broadcast dims, so
# the only large shuffle is the final group-by — verified in test_plans.
# Shared SQL text both engines (Spark reads the /*+ BROADCAST */ hint,
# DuckDB parses it as a comment).
# ---------------------------------------------------------------------------

_Q3_SQL = """
SELECT l_orderkey,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_orderdate, o_orderpriority
FROM {customer}
JOIN {orders} ON c_custkey = o_custkey
JOIN {lineitem} ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, CAST(CAST(o_orderdate AS DATE) AS STRING), o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@register(
    "join_q3_shipping_priority",
    oracle=_Q3_SQL.format(customer="customer", lineitem="lineitem", orders="orders"),
    doc="TPC-H Q3 skeleton: selective segment filter -> customer⋈orders⋈"
    "lineitem -> decimal revenue per order -> top-10. Broadcast customer, "
    "shuffle only the grouped aggregate (REF-ANALOG).",
    tags=("join", "agg", "bench"),
)
def join_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q3_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem")},
    )


_Q5_SQL = """
SELECT /*+ BROADCAST(supplier, nation, region) */ n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lineitems
FROM {customer}
JOIN {orders} ON c_custkey = o_custkey
JOIN {lineitem} ON l_orderkey = o_orderkey
JOIN {supplier} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN {nation} ON s_nationkey = n_nationkey
JOIN {region} ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register(
    "join_q5_region_volume",
    oracle=_Q5_SQL.format(
        customer="customer", lineitem="lineitem", nation="nation", orders="orders",
        region="region", supplier="supplier",
    ),
    doc="TPC-H Q5 skeleton: 6-way star join (region->nation->supplier dims "
    "broadcast) with the local-supplier co-nation predicate, grouped "
    "decimal revenue per nation (REF-ANALOG).",
    tags=("join", "agg", "bench"),
)
def join_q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The dimensions are bound with F.broadcast: the text's BROADCAST hint
    # names the tables DuckDB reads, not the relations bound here.
    return spark.sql(
        _Q5_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("customer", "orders", "lineitem")},
        **{
            t: F.broadcast(load_table(spark, sf_dir, t))
            for t in ("supplier", "nation", "region")
        },
    )


# ---------------------------------------------------------------------------
# join_lateral_df — DataFrame lateralJoin API (Spark 4): the programmatic
# LATERAL correlated-subquery surface (SQL LATERAL is qry_lateral_topk;
# this is its DataFrame twin). The subquery references the outer side via
# F.col(...).outer() — the name-based marker; a bound attribute
# (df.col.outer()) does NOT resolve (probed live, r10:
# MISSING_ATTRIBUTES). Top-2 orders by price per customer, deterministic
# tiebreak on o_orderkey; raw doubles pass through untouched (bit-exact
# cross-engine). Oracle: the classic row_number window derivation — two
# semantics, one hash. Scale: Catalyst decorrelates the per-row LIMIT
# into a partitioned rank, so the plan shuffles once on the join key —
# same posture as any top-k-per-group.
# ---------------------------------------------------------------------------

_LATERAL_DF_ORACLE = """
SELECT c_custkey, o_orderkey, o_totalprice
FROM (
  SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
    row_number() OVER (
      PARTITION BY c.c_custkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey
    ) AS rk
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
) t
WHERE rk <= 2
ORDER BY c_custkey, o_orderkey
"""


@register(
    "join_lateral_df",
    oracle=_LATERAL_DF_ORACLE,
    doc="DataFrame lateralJoin (Spark 4): per-customer top-2 orders by "
    "price via a correlated subquery referencing the outer side with "
    "F.col('c_custkey').outer(), inner lateral semantics (customers "
    "without orders drop). Hash-pinned against the row_number window "
    "derivation (REF-ANALOG: the programmatic twin of qry_lateral_topk).",
    tags=("join", "subquery"),
)
def join_lateral_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    sub = (
        orders.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    return (
        cust.lateralJoin(sub)
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .orderBy("c_custkey", "o_orderkey")
    )
