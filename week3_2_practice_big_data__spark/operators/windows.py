"""Window-function operators (SURVEY.md §2.1-F).

`win_conv1d_frame` is the flagship REF window op: the reference's separable
Gaussian blur (app.py:31-37) is a 1-D "same"-mode weighted sliding sum. Here
it runs over `events.value` per user as a SINGLE window pass: the weighted
frame sum is expressed as Σ_o w_o·lead(value, o), 13 lead/lag terms over one
window spec — Spark evaluates all of them in one sort, no self-join, no
shuffle beyond the partition exchange. Missing neighbors at partition edges
contribute 0 via coalesce, which is exactly np.convolve(mode="same")'s
zero-padding (SURVEY §7.4.4).

`win_rank_order` is the reference's painter's z-order / depth ranking
(app.py:137,145,91-93); lead/lag and running aggregates are REF-ANALOG.

Scale notes (100 TB): all of these shuffle once on the partition key and
sort within partitions — the idiomatic distributed window pattern. Skewed
partition keys (one user with 10⁹ events) would need pre-bucketing by
(user, day); noted, not needed for this schema.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..common import checkpointed
from ..io import load_table
from ..registry import register
from .. import synth

# ---------------------------------------------------------------------------
# win_conv1d_frame — Gaussian-weighted sliding window (app.py:31-37).
# ---------------------------------------------------------------------------

_SIGMA = 2.0


def _conv_terms(value: str = "value") -> str:
    """Σ_o w_o · lead(value, o): shared Spark/DuckDB window expression text.

    lead() with negative offset is lag(); both engines accept lag/lead with
    the window spec below. Term order is fixed by the generated text, so the
    float additions happen in the same order on both engines.
    """
    taps = synth.gaussian_kernel(_SIGMA)
    terms = []
    for off, w in taps:
        fn = "lead" if off >= 0 else "lag"
        terms.append(
            f"{synth.flit(w)} * coalesce({fn}({value}, {abs(off)}) "
            f"OVER (PARTITION BY user_id ORDER BY ts, event_id), 0e0)"
        )
    return "(" + " + ".join(terms) + ")"


def _conv1d_sql(dialect: str) -> str:
    del dialect  # no seam: lag/lead text is identical on both engines
    return (
        f"SELECT event_id, user_id, {synth.q6('value')} AS value,\n"
        f"  {synth.q6(_conv_terms())} AS smoothed\n"
        "FROM {events} ORDER BY user_id, event_id"
    )


@register(
    "win_conv1d_frame",
    oracle=_conv1d_sql("duckdb").format(events="events"),
    doc="1-D 'same'-mode Gaussian convolution over events.value per user — "
    "the reference's separable blur pass (app.py:31-37) as one window sort.",
    tags=("window", "bench", "generative"),
)
def win_conv1d_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_conv1d_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# win_rank_order — depth ordering / painter's z-order (app.py:137,145,91-93).
# row_number / rank / dense_rank / normalized rank over blob depth, plus the
# REF-ANALOG per-customer ranking on orders.
# ---------------------------------------------------------------------------

_RANK_ORACLE = """
SELECT o_orderkey, o_custkey,
  ROW_NUMBER() OVER w AS rn,
  RANK() OVER w AS rnk,
  DENSE_RANK() OVER w AS drnk
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_custkey, rn
"""


@register(
    "win_rank_order",
    oracle=_RANK_ORACLE,
    doc="row_number/rank/dense_rank per customer by totalprice — painter's "
    "depth order generalized (app.py:137,145).",
    tags=("window",),
)
def win_rank_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    ).orderBy("o_custkey", "rn")


# ---------------------------------------------------------------------------
# win_lead_lag — REF-ANALOG: previous-event gap per user (sessionization
# primitive; microsecond-exact integer arithmetic on both engines).
# ---------------------------------------------------------------------------


def _lead_lag_sql(dialect: str) -> str:
    epoch = "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"
    # coalesce(-1): keeps the output columns non-nullable BIGINT so the
    # driver's sort+hash never sees NaN-typed floats.
    return f"""
SELECT event_id, user_id,
  coalesce(lag(event_id) OVER w, -1) AS prev_event_id,
  coalesce({epoch} - lag({epoch}) OVER w, -1) AS gap_us
FROM {{events}}
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
"""


@register(
    "win_lead_lag",
    oracle=_lead_lag_sql("duckdb").format(events="events"),
    doc="lag/lead over event time per user: previous event id + gap in µs "
    "(REF-ANALOG sessionization primitive).",
    tags=("window",),
)
def win_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_lead_lag_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# win_running_agg — REF-ANALOG running sum/count (ordered prefix aggregate).
# ---------------------------------------------------------------------------


def _running_sql(dialect: str) -> str:
    del dialect
    return f"""
SELECT event_id, user_id,
  {synth.q6('sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id '
            'ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)')} AS run_sum,
  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cnt
FROM {{events}}
ORDER BY user_id, event_id
"""


@register(
    "win_running_agg",
    oracle=_running_sql("duckdb").format(events="events"),
    doc="Running sum/count per user ordered by event time (REF-ANALOG).",
    tags=("window",),
)
def win_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_running_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# win_ntile — quartile bucketing over a deterministic total order.
# ---------------------------------------------------------------------------

_NTILE_ORACLE = """
SELECT o_orderkey,
  NTILE(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS quartile
FROM orders ORDER BY o_orderkey
"""


@register(
    "win_ntile",
    oracle=_NTILE_ORACLE,
    doc="ntile(4) quartile assignment over a deterministic total order "
    "(REF-ANALOG).",
    tags=("window",),
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_orderkey", F.ntile(4).over(w).alias("quartile")
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# win_ntile_blocked — the SCALE path for global ranking (r5, the same
# hierarchical decomposition as win_islands_blocked): F.ntile over an
# unpartitioned Window is a single-partition sort of the whole relation.
# Here the total order (o_totalprice DESC, o_orderkey) decomposes by a
# coarse value bucket: per-bucket row_number (partitioned window), bucket
# counts roll into cumulative offsets with one window over the ~50-row
# bucket summary (the price RANGE fixes the bucket count, independent of
# row count), global rank = offset + in-bucket rank, and NTILE's
# exact group sizes come from the closed form (first n%4 tiles hold
# n DIV 4 + 1 rows, the rest n DIV 4). The oracle is REAL NTILE(4), so
# the decomposition is value-proven, tie-break and all. The same ntile(3)
# decomposition applies to the corpus-tier keys (ns_text_perplexity /
# ns_text_quality) at web scale.
# ---------------------------------------------------------------------------

_NTILE_BUCKET_W = 10000  # o_totalprice ∈ [~900, 560k] → ≤ ~60 buckets


def _ntile_blocked_sql() -> str:
    # Spark-only text (the oracle is _NTILE_ORACLE itself); DIV keeps
    # every rank computation in exact BIGINT arithmetic.
    return f"""
WITH pb AS (
  SELECT o_orderkey, o_totalprice,
    CAST(floor(o_totalprice / {_NTILE_BUCKET_W}e0) AS BIGINT) AS pb
  FROM {{orders}}
),
bc AS (SELECT pb, count(*) AS c FROM pb GROUP BY pb),
off AS (
  SELECT pb, c,
    sum(c) OVER (ORDER BY pb DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
      AS off0,
    sum(c) OVER () AS n
  FROM bc
),
rk AS (
  SELECT p.o_orderkey,
    o.off0 + row_number() OVER (
      PARTITION BY p.pb ORDER BY p.o_totalprice DESC, p.o_orderkey
    ) AS r,
    o.n
  FROM pb p JOIN off o ON p.pb = o.pb
)
SELECT o_orderkey,
  CAST(CASE WHEN r <= m * d1 THEN (r - 1) DIV d1 + 1
            ELSE m + (r - m * d1 - 1) DIV (d1 - 1) + 1 END AS INT)
    AS quartile
FROM (SELECT o_orderkey, r, n % 4 AS m, n DIV 4 + 1 AS d1 FROM rk) t
ORDER BY o_orderkey
"""


@register(
    "win_ntile_blocked",
    oracle=_NTILE_ORACLE,
    doc="ntile(4) by hierarchical decomposition: per-price-bucket ranks "
    "(partitioned window) + cumulative offsets over the ~50-row bucket "
    "summary + NTILE's closed-form group sizes — global ranking without "
    "a single-partition sort; value-proven against real NTILE "
    "(REF-ANALOG, scale path).",
    tags=("window", "scale"),
)
def win_ntile_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_ntile_blocked_sql(), orders=load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# win_range_frame — event-time RANGE frame: per-user trailing 10-minute
# count/sum at every event. REF-ANALOG of the reference's neighborhood
# aggregation (the blur kernel aggregates a value-range neighborhood,
# app.py:26-37) transplanted to event time. Unlike a ROWS frame, the RANGE
# frame is defined by the ordering VALUE (epoch micros), so its content is
# set-deterministic regardless of tie order — the cross-engine-safe choice.
# Scale: one shuffle on user_id + one in-partition sort; the frame scan is
# streaming (constant memory) in both engines.
# ---------------------------------------------------------------------------

_RANGE_US = 600_000_000  # 10 minutes in microseconds


def _range_frame_sql(dialect: str) -> str:
    us = "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"
    over = (
        f"OVER (PARTITION BY user_id ORDER BY {us} "
        f"RANGE BETWEEN {_RANGE_US} PRECEDING AND CURRENT ROW)"
    )
    return f"""
SELECT event_id, user_id,
  count(*) {over} AS n_10m,
  {synth.q6(f'sum(value) {over}')} AS sum_10m
FROM {{events}}
ORDER BY user_id, event_id
"""


@register(
    "win_range_frame",
    oracle=_range_frame_sql("duckdb").format(events="events"),
    doc="Trailing 10-minute event-time RANGE frame per user (REF-ANALOG of "
    "the kernel-neighborhood aggregation, app.py:26-37).",
    tags=("window",),
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_range_frame_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# win_first_last — first_value / last_value / nth_value over a fully
# deterministic total order per customer (orderdate, orderkey unique
# tie-break). last_value needs the UNBOUNDED FOLLOWING frame — the default
# frame ends at CURRENT ROW, a classic silent-wrong-answer trap both engines
# share, made explicit here. REF-ANALOG of the painter's first/last draw
# order (app.py:137,147-150).
# ---------------------------------------------------------------------------


def _first_last_sql(dialect: str) -> str:
    del dialect
    order = "ORDER BY o_orderdate, o_orderkey"
    full = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
    return f"""
SELECT o_orderkey, o_custkey,
  first_value(o_totalprice) OVER (PARTITION BY o_custkey {order}) AS first_price,
  last_value(o_totalprice) OVER (PARTITION BY o_custkey {order} {full}) AS last_price,
  coalesce(nth_value(o_totalprice, 2)
           OVER (PARTITION BY o_custkey {order} {full}), -1e0) AS second_price
FROM {{orders}}
ORDER BY o_orderkey
"""


@register(
    "win_first_last",
    oracle=_first_last_sql("duckdb").format(orders="orders"),
    doc="first/last/nth_value with explicit UNBOUNDED FOLLOWING frame over "
    "a deterministic total order (REF-ANALOG of draw order, app.py:137).",
    tags=("window",),
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return spark.sql(_first_last_sql("spark"), orders=orders)


# ---------------------------------------------------------------------------
# win_percent_rank — distribution window functions: percent_rank and
# cume_dist over order value within order status. Both are TIE-INVARIANT
# (defined from rank / peer counts, identical across engines) and exact
# ((rank-1)/(n-1) and peers/n are single IEEE divisions of integers), so
# no rounding is needed. Scale: one window sort per partition, same cost
# shape as rank(); nothing engine-specific.
# ---------------------------------------------------------------------------

_PCTRANK_SQL = """
SELECT o_orderkey, o_orderstatus,
  percent_rank() OVER w AS pr,
  cume_dist() OVER w AS cd
FROM {orders}
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
ORDER BY o_orderstatus, o_orderkey
"""


@register(
    "win_percent_rank",
    oracle=_PCTRANK_SQL.format(orders="orders"),
    doc="percent_rank + cume_dist distribution windows (tie-invariant, "
    "integer-ratio exact; REF-ANALOG of the normalized depth rank).",
    tags=("window",),
)
def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_PCTRANK_SQL, orders=load_table(spark, sf_dir, "orders"))


# NULLS FIRST pinned (r13 skew fixture, 90%-NULL value): Spark's window
# ORDER BY defaults ASC NULLS FIRST, DuckDB NULLS LAST — every row's
# cumulative fraction shifts when the engines place the NULL block at
# opposite ends. cd stays an exact rational either way; only the order
# needed pinning.
_CUME_DIST_ORACLE = """
SELECT event_id, event_type,
  cume_dist() OVER (
    PARTITION BY event_type ORDER BY value NULLS FIRST, event_id)
    AS cd
FROM events WHERE event_id < 3000
ORDER BY event_type, cd, event_id
"""


@register(
    "win_cume_dist",
    oracle=_CUME_DIST_ORACLE,
    doc="cume_dist() ranking window (fraction of partition <= current row; "
    "exact rational n/N, so no float discipline needed) (REF-ANALOG).",
    tags=("window",),
)
def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_first(), "event_id"
    )
    return (
        ev.filter(F.col("event_id") < 3000)
        .select(
            "event_id",
            "event_type",
            F.cume_dist().over(w).alias("cd"),
        )
        .orderBy("event_type", "cd", "event_id")
    )


# ---------------------------------------------------------------------------
# win_budget_allocation — greedy order-of-arrival credit allocation: each
# customer's (non-negative) account balance is spent across their orders in
# o_orderdate order; every order receives min(remaining budget, its price).
# The classic "apply payments to invoices" / "allocate stock to demand"
# warehouse pattern, expressed as ONE running-frame window in exact BIGINT
# cents: alloc = clamp(budget − running_sum_before, 0, price). No iteration,
# no correlated subquery — the greedy recurrence collapses to a prefix sum.
# Cross-engine discipline: money enters through the sat() gate and is
# floor-quantized to cents ONCE (NULL→0 so greatest/least never see NULL —
# Spark and DuckDB both skip NULLs Postgres-style, but we don't rely on it);
# the sort key coalesces NULL dates to epoch (Spark sorts NULLS FIRST,
# DuckDB NULLS LAST — the coalesce removes the divergence); equal sort keys
# imply equal price, so the aggregate outcome is tie-invariant. All
# arithmetic stays in int64 (prices < 1e12 cents) until two final /1e2
# divisions of identical integers.
# Scale shape (100 TB): one orders scan, customer dim broadcasts onto it,
# ONE hash exchange on o_custkey feeds the window sort, and the final
# per-customer aggregate REUSES that partitioning — zero additional
# shuffles. The running frame is UNBOUNDED PRECEDING..1 PRECEDING
# (incremental O(n) per partition, never a re-aggregated suffix frame).
# ---------------------------------------------------------------------------


def _budget_alloc_sql(dialect: str) -> str:
    del dialect  # shared text
    price_c = (
        "COALESCE(CAST(floor("
        + synth.sat("o_totalprice", 1e12)
        + " * 100e0 + 0.5e0) AS BIGINT), 0)"
    )
    budget_c = (
        "COALESCE(CAST(floor(greatest("
        + synth.sat("c_acctbal", 1e12)
        + ", 0e0) * 100e0 + 0.5e0) AS BIGINT), 0)"
    )
    return f"""
WITH ord AS (
  SELECT o_custkey, {price_c} AS price_c,
    COALESCE(o_orderdate, TIMESTAMP '1970-01-01 00:00:00') AS od,
    COALESCE(o_orderkey, -1) AS ok
  FROM {{orders}}
),
alloc AS (
  SELECT o.o_custkey, c.budget_c, o.price_c,
    COALESCE(SUM(o.price_c) OVER (
      PARTITION BY o.o_custkey ORDER BY o.od, o.ok
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM ord o
  JOIN (SELECT c_custkey, {budget_c} AS budget_c FROM {{customer}}) c
    ON c.c_custkey = o.o_custkey
),
fill AS (
  SELECT o_custkey, budget_c, price_c,
    greatest(least(budget_c - cum_before, price_c), 0) AS alloc_c
  FROM alloc
)
SELECT o_custkey AS custkey,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(CASE WHEN price_c > 0 AND alloc_c = price_c
                THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
  CAST(sum(CASE WHEN alloc_c > 0 AND alloc_c < price_c
                THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
  CAST(sum(CASE WHEN alloc_c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_none,
  CAST(max(budget_c) AS DOUBLE) / 1e2 AS budget,
  CAST(sum(alloc_c) AS DOUBLE) / 1e2 AS allocated
FROM fill
GROUP BY o_custkey
ORDER BY custkey
"""


@register(
    "win_budget_allocation",
    oracle=_budget_alloc_sql("duckdb").format(orders="orders", customer="customer"),
    doc="Greedy payments-to-invoices allocation: per-customer budget "
    "(account balance) spread over orders in date order via ONE exact "
    "BIGINT-cents running frame — alloc = clamp(budget − prefix_sum, 0, "
    "price); per-customer fill summary. Customer dim broadcasts, the "
    "window's o_custkey exchange is reused by the final aggregate "
    "(zero extra shuffles), incremental PRECEDING frame only "
    "(REF-ANALOG; the allocation member of the window family).",
    tags=("window", "join", "agg"),
)
def win_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _budget_alloc_sql("spark"),
        orders=load_table(spark, sf_dir, "orders"),
        customer=load_table(spark, sf_dir, "customer"),
    )


# ---------------------------------------------------------------------------
# win_pareto_abc — ABC / Pareto revenue classification (r8): rank parts by
# exact revenue, classify by GLOBAL cumulative revenue share (A ≤ 70%,
# B ≤ 90%, C rest) — the inventory-management classic that is secretly a
# global-cumulative-sum problem, i.e. the same single-partition-sort cliff
# win_ntile_blocked retired. Scale path: the coarse bucket key is
# floor(log2(revenue)) computed EXACTLY as length(bin(rev_u)) — string
# length of the binary form, no float log — so the bucket summary is ≤ 64
# rows at ANY corpus size or value range (a fixed-width value bucket like
# ntile_blocked's would grow with revenue magnitude under duplication);
# per-bucket prefix revenue sums (partitioned window) + bucket-total
# offsets over the ≤ 64-row summary reconstruct the global running sum
# exactly. Revenue is an exact DECIMAL sum emitted as BIGINT 1e-4 units;
# class thresholds compare 10·cum ≤ 7·total in pure BIGINT. The oracle is
# the naive global window — value identity of the decomposition is the
# check. Output: 3 class rows with exact revenue, one-division share, and
# a modular part-membership checksum.
# ---------------------------------------------------------------------------

_ABC_P = 1_000_003


def _pareto_rev_sql() -> str:
    """(p_partkey, rev_u) — exact per-part revenue in BIGINT 1e-4 units
    (DECIMAL(18,2) price × (1 − DECIMAL(18,2) discount) has scale 4, so
    ×10000 is integral; the DECIMAL sum is exact in both engines)."""
    return """
SELECT l_partkey AS p_partkey,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT)
    AS rev_u
FROM {lineitem} GROUP BY l_partkey
"""


def _pareto_abc_sql(dialect: str, pr_ref: str | None = None) -> str:
    if dialect == "duckdb":
        cum = """
rk AS (
  SELECT p_partkey, rev_u,
    sum(rev_u) OVER (ORDER BY rev_u DESC, p_partkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cum_rev,
    sum(rev_u) OVER () AS total
  FROM pr
)"""
    else:
        cum = """
pb AS (SELECT p_partkey, rev_u, length(bin(rev_u)) AS pb FROM pr),
bs AS (SELECT pb, sum(rev_u) AS brev FROM pb GROUP BY pb),
off AS (
  SELECT pb,
    sum(brev) OVER (ORDER BY pb DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - brev
      AS off_rev,
    sum(brev) OVER () AS total
  FROM bs
),
rk AS (
  SELECT p.p_partkey, p.rev_u,
    o.off_rev + sum(p.rev_u) OVER (
      PARTITION BY p.pb ORDER BY p.rev_u DESC, p.p_partkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
    o.total
  FROM pb p JOIN off o ON p.pb = o.pb
)"""
    return f"""
WITH pr AS ({pr_ref or _pareto_rev_sql()}),{cum}
SELECT abc_class,
  CAST(count(*) AS BIGINT) AS n_parts,
  CAST(sum(rev_u) AS BIGINT) AS class_rev_u,
  CAST(sum(rev_u) AS DOUBLE) / CAST(max(total) AS DOUBLE) AS revenue_share,
  CAST(sum(p_partkey % {_ABC_P}) AS BIGINT) AS part_check
FROM (
  SELECT p_partkey, rev_u, total,
    CASE WHEN cum_rev * 10 <= total * 7 THEN 'A'
         WHEN cum_rev * 10 <= total * 9 THEN 'B'
         ELSE 'C' END AS abc_class
  FROM rk
) c
GROUP BY abc_class
ORDER BY abc_class
"""


@register(
    "win_pareto_abc",
    oracle=_pareto_abc_sql("duckdb").format(lineitem="lineitem"),
    doc="Pareto/ABC revenue classification of parts (A = first 70% of "
    "global cumulative revenue, B to 90%, C rest): exact DECIMAL revenue "
    "as BIGINT 1e-4 units, global running sum via the blocked "
    "decomposition with an EXACT log2 bucket key (length(bin(rev_u)) — "
    "string length, no float log; ≤ 64-row bucket summary at any value "
    "range), thresholds in pure BIGINT (10·cum ≤ 7·total). Oracle is the "
    "naive global cumulative window (REF-ANALOG; the warehouse-classic "
    "sibling of win_ntile_blocked).",
    tags=("window", "scale", "agg"),
)
def win_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The per-part revenue relation feeds both the bucket-summary chain
    # and the rank join; CTE inlining would scan lineitem once per
    # reference (r8 plan audit: 2 scans) — materialize it once.
    lineitem = load_table(spark, sf_dir, "lineitem")
    pr = checkpointed(
        spark, "abc_pr",
        lambda: spark.sql(_pareto_rev_sql(), lineitem=lineitem).coalesce(8),
        sf_dir,
    )
    return spark.sql(
        _pareto_abc_sql("spark", pr_ref="SELECT p_partkey, rev_u FROM {pr}"),
        pr=pr,
    )
