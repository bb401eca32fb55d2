"""Time-series join/smoothing operators, round-2 extensions (REF-ANALOG).

Completes the as-of family (operators/joins.py `join_asof` is the backward
direction) with the two other directions pandas' merge_asof offers, plus
exponentially-weighted smoothing:

- `join_asof_forward` — first click at-or-after each purchase per user,
  via the union+window trick mirrored forward (min over the following
  frame). One user_id shuffle, no range self-join.
- `join_asof_nearest` — nearest click within a 1-hour tolerance, either
  direction; backward wins ties (pandas semantics). Both directions come
  from the same single window pass.
- `win_ewma_smooth` — EWMA over the trailing 12 readings (α=0.3),
  renormalized over the truncated head window: the kernel is a fixed
  lag-term expression (the win_conv1d_frame discipline — one window sort,
  no kernel join), weights are driver-computed float literals, and the
  fixed parse-tree summation order makes both engines produce identical
  doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import synth
from ..common import checkpointed
from ..io import load_table
from ..registry import register


def _us(dialect: str) -> str:
    return "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"


# ---------------------------------------------------------------------------
# join_asof_forward
# ---------------------------------------------------------------------------


def _asof_forward_sql(dialect: str) -> str:
    epoch = _us(dialect)
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
    -- suffix-min as a running min over the REVERSE sort: an UNBOUNDED
    -- FOLLOWING frame is recomputed per row (O(n²) per partition — the
    -- r7 skew-ladder cliff class); the reverse-sorted UNBOUNDED
    -- PRECEDING frame is incremental O(n) and rides the same exchange.
    min(click_us) OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS next_click_us
  FROM tagged
)
SELECT user_id, event_id AS purchase_event_id,
  coalesce(next_click_us, -1) AS next_click_us,
  coalesce(next_click_us - {epoch}, -1) AS us_until_click
FROM carried
WHERE is_purchase = 1
ORDER BY user_id, purchase_event_id
"""


@register(
    "join_asof_forward",
    oracle=_asof_forward_sql("duckdb").format(events="events"),
    doc="Forward as-of join (first click at-or-after each purchase per "
    "user) via union + running-min over the following frame — the "
    "direction='forward' sibling of join_asof, one user_id shuffle, no "
    "range self-join (REF-ANALOG).",
    tags=("join", "window", "timeseries"),
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_asof_forward_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# join_asof_nearest
# ---------------------------------------------------------------------------

_NEAREST_TOL_US = 3_600_000_000  # 1 hour


def _asof_nearest_sql(dialect: str) -> str:
    epoch = _us(dialect)
    back_gap = f"({epoch} - prev_click_us)"
    fwd_gap = f"(next_click_us - {epoch})"
    pick_back = (
        f"prev_click_us IS NOT NULL AND {back_gap} <= {_NEAREST_TOL_US} "
        f"AND (next_click_us IS NULL OR {back_gap} <= {fwd_gap} "
        f"OR {fwd_gap} > {_NEAREST_TOL_US})"
    )
    pick_fwd = (
        f"next_click_us IS NOT NULL AND {fwd_gap} <= {_NEAREST_TOL_US}"
    )
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
      AS prev_click_us,
    -- suffix-min via the reverse-sorted running frame (see
    -- join_asof_forward: UNBOUNDED FOLLOWING is O(n²) per partition)
    min(click_us) OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS next_click_us
  FROM tagged
)
SELECT user_id, event_id AS purchase_event_id,
  CASE WHEN {pick_back} THEN 'backward'
       WHEN {pick_fwd} THEN 'forward'
       ELSE 'none' END AS matched_direction,
  CASE WHEN {pick_back} THEN {back_gap}
       WHEN {pick_fwd} THEN {fwd_gap}
       ELSE -1 END AS gap_us
FROM carried
WHERE is_purchase = 1
ORDER BY user_id, purchase_event_id
"""


@register(
    "join_asof_nearest",
    oracle=_asof_nearest_sql("duckdb").format(events="events"),
    doc="Nearest as-of join within a 1-hour tolerance, either direction "
    "(backward wins ties — pandas merge_asof semantics): both directions "
    "from one window pass over the tagged union, tolerance applied in the "
    "projection (REF-ANALOG).",
    tags=("join", "window", "timeseries"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_asof_nearest_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# win_ewma_smooth
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_K = 12  # trailing taps


def _ewma_weights() -> list[float]:
    return [
        _EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** j for j in range(_EWMA_K)
    ]


def _ewma_sql(dialect: str) -> str:
    epoch = _us(dialect)
    w = "PARTITION BY user_id ORDER BY us, event_id"
    num = " + ".join(
        f"{synth.flit(wj)} * coalesce(lag(value, {j}) OVER ({w}), 0e0)"
        for j, wj in enumerate(_ewma_weights())
    )
    den = " + ".join(
        f"CASE WHEN lag(us, {j}) OVER ({w}) IS NULL THEN 0e0 "
        f"ELSE {synth.flit(wj)} END"
        for j, wj in enumerate(_ewma_weights())
    )
    return f"""
WITH ev AS (
  SELECT event_id, user_id, {epoch} AS us, value FROM {{events}}
)
SELECT event_id, user_id,
  {synth.q6(f"({num}) / ({den})")} AS ewma
FROM ev
ORDER BY user_id, us, event_id
"""


@register(
    "win_ewma_smooth",
    oracle=_ewma_sql("duckdb").format(events="events"),
    doc="EWMA smoothing (α=0.3, trailing 12 taps, head-renormalized): "
    "exponential kernel as fixed lag-term expressions in ONE window sort "
    "(win_conv1d_frame discipline), driver-computed weight literals, "
    "fixed parse-tree summation → identical doubles cross-engine "
    "(REF-ANALOG).",
    tags=("window", "timeseries", "stats"),
)
def win_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_ewma_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# win_distinct_rolling — distinct cardinality over a sliding frame: how
# many distinct event types each user touched in their trailing 10 events
# (the behavioral-breadth feature). Dialect seam: Spark has no windowed
# COUNT(DISTINCT) so it takes size(collect_set(...)) over the frame;
# DuckDB supports count(DISTINCT ...) OVER directly — identical semantics,
# set-sized per-frame state (bounded by the type cardinality).
# ---------------------------------------------------------------------------

_DR_FRAME = 9  # trailing frame: current + 9 preceding


def _distinct_rolling_sql(dialect: str) -> str:
    us = _us(dialect)
    w = (
        "PARTITION BY user_id ORDER BY us, event_id "
        f"ROWS BETWEEN {_DR_FRAME} PRECEDING AND CURRENT ROW"
    )
    distinct = (
        f"size(collect_set(event_type) OVER ({w}))"
        if dialect == "spark"
        else f"count(DISTINCT event_type) OVER ({w})"
    )
    return f"""
WITH ev AS (
  SELECT event_id, user_id, {us} AS us, event_type FROM {{events}}
)
SELECT event_id, user_id,
  CAST({distinct} AS BIGINT) AS n_distinct_types
FROM ev
ORDER BY user_id, us, event_id
"""


@register(
    "win_distinct_rolling",
    oracle=_distinct_rolling_sql("duckdb").format(events="events"),
    doc="Distinct event-type cardinality over each user's trailing 10 "
    "events (behavioral breadth): size(collect_set) over the frame on "
    "Spark, windowed COUNT(DISTINCT) on DuckDB — same semantics, frame "
    "state bounded by type cardinality (REF-ANALOG).",
    tags=("window", "timeseries", "stats"),
)
def win_distinct_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_distinct_rolling_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# ts_resample_fill — calendar densification: per-user DAILY resample over
# each user's own [first, last] activity range, with explicit zero-filled
# gap days (the step every downstream rolling/EWMA computation silently
# assumes — a rolling mean over a sparse series is wrong without it).
# The grid explode is bounded by user-range days (never a global calendar
# cross join); the fill is one LEFT JOIN on (user_id, day).
# ---------------------------------------------------------------------------


def _grid_days(dialect: str) -> str:
    if dialect == "spark":
        return (
            "SELECT user_id, explode(sequence(d0, d1)) AS day FROM bounds"
        )
    return (
        "SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM bounds"
    )


def _resample_fill_sql(dialect: str) -> str:
    epoch = _us(dialect)
    return f"""
WITH ev AS (
  SELECT user_id,
    CAST(floor({epoch} / 86400e6) AS BIGINT) AS day,
    value
  FROM {{events}}
),
bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM ev GROUP BY user_id),
grid AS ({_grid_days(dialect)}),
daily AS (
  SELECT user_id, day, count(*) AS n,
    {synth.q6("sum(value)")} AS sumv
  FROM ev GROUP BY user_id, day
)
SELECT g.user_id, g.day,
  coalesce(d.n, 0) AS n_events,
  coalesce(d.sumv, 0e0) AS sum_value,
  (d.n IS NULL) AS gap_filled
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
ORDER BY g.user_id, g.day
"""


@register(
    "ts_resample_fill",
    oracle=_resample_fill_sql("duckdb").format(events="events"),
    doc="Per-user daily resample with explicit zero-filled gap days over "
    "each user's own activity range — calendar densification before any "
    "rolling computation; grid explode bounded per user, one (user, day) "
    "LEFT JOIN (REF-ANALOG timeseries).",
    tags=("timeseries", "window"),
)
def ts_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_resample_fill_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# win_cusum_changepoint — cumulative-sum control chart per user: running
# sum of deviations from the user's own mean, flagged where |S_i| exceeds
# h·σ (h = 3). The classic drift detector; the non-resetting chart form is
# exactly one windowed cumulative sum (the resetting max(0, ·) variant is
# a sequential recurrence — that escape hatch is applyInPandasWithState,
# stream_custom_state).
#
# EXACT-INTEGER discipline: the deviation sum S_i = prefix_i − i·mean
# lands on .5e-6 quantization boundaries systematically (values are
# 2-decimal), so a float mean would flip q6 on boundary rows. Instead
# values become BIGINT micro-units (exact, 6-decimal inputs) and
# S_i·n = n·prefix_i − i·total is computed in exact integer arithmetic;
# the final division and the cross-multiplied 3σ comparison are single
# IEEE expressions over identical integers — bit-identical cross-engine.
# Headroom: sum(v6·v6) is accumulated as DECIMAL(38,0) — a BIGINT sum
# would overflow at ~1.2e3 events/user with |v|≈560 (v6² ≈ 3e17), raising
# ARITHMETIC_OVERFLOW under Spark ANSI while DuckDB silently promotes to
# HUGEINT. The remaining BIGINT product |sn6| = |n·p6 − i·sx6| ≤
# n²·max|v|·1e6 stays inside int64 to ~1e5 events/user at these
# magnitudes; widen it to DECIMAL(38,0) too if per-user cardinality grows.
# ---------------------------------------------------------------------------


def _cusum_sql(dialect: str) -> str:
    epoch = _us(dialect)
    # Saturate dirty values (±1e300/Inf/NaN) into the exact-integer domain
    # |v| ≤ 1e6 before micro-unit quantization: a saturated glitch still
    # drives the CUSUM past its 3σ boundary, while an unguarded cast is an
    # ANSI overflow on Spark and a cast error on DuckDB (r4 adversarial
    # gate). Worst-case |v| = 1e6 keeps n·prefix sums in int64 to ~3e3
    # events/user; at typical magnitudes (|v| ≈ 560) headroom stays ~1e5.
    sat_v = synth.sat("value", 1e6)
    full = "PARTITION BY user_id"
    run = (
        "PARTITION BY user_id ORDER BY us, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    d = "CAST({x} AS DOUBLE)"
    sn6 = d.format(x="sn6")
    nn = "(n + 0e0)"
    lhs = f"{sn6} * {sn6} * ({nn} - 1e0)"
    rhs = (
        f"9e0 * {nn} * {nn} * {d.format(x='sxx12')} "
        f"- 9e0 * {nn} * {d.format(x='sx6')} * {d.format(x='sx6')}"
    )
    return f"""
WITH ev AS (
  SELECT user_id, event_id, {epoch} AS us,
    CAST(floor({sat_v} * 1e6 + 0.5e0) AS BIGINT) AS v6
  FROM {{events}}
),
w AS (
  SELECT user_id, event_id, us,
    count(*) OVER ({full}) AS n,
    sum(v6) OVER ({full}) AS sx6,
    sum(CAST(v6 AS DECIMAL(38,0)) * v6) OVER ({full}) AS sxx12,
    sum(v6) OVER ({run}) AS p6,
    row_number() OVER (
      {full} ORDER BY us, event_id
    ) AS i
  FROM ev
),
cum AS (
  SELECT user_id, event_id, us, n, sx6, sxx12,
    n * p6 - i * sx6 AS sn6
  FROM w WHERE n > 1
)
SELECT user_id, event_id,
  {synth.q6(f"{sn6} / ({nn} * 1e6)")} AS cusum,
  ({lhs} > {rhs}) AS drift_flag
FROM cum
ORDER BY user_id, us, event_id
"""


@register(
    "win_cusum_changepoint",
    oracle=_cusum_sql("duckdb").format(events="events"),
    doc="CUSUM control chart per user: deviation sums from the user's own "
    "mean computed in exact integer micro-units (n·prefix − i·total), "
    "drift flagged beyond 3σ via a cross-multiplied exact comparison — "
    "one user_id shuffle, no float-summation boundary flips (REF-ANALOG "
    "timeseries).",
    tags=("timeseries", "window", "stats"),
)
def win_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_cusum_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# ts_downsample_lttb — largest-triangle-three-buckets downsampling (the
# standard visualization reducer, Steinarsson 2013), bucket-average
# variant: per user the series is cut into _LTTB_BUCKETS equal-count
# buckets; first/last points are always kept, and each interior bucket
# keeps the point with the largest triangle area against the PREVIOUS and
# NEXT buckets' centroids. (True LTTB anchors on the previously SELECTED
# point — a sequential recurrence; the centroid anchor is the standard
# parallelizable variant and is what makes every bucket's argmax
# independent.) Deterministic: area is q6-quantized before the argmax,
# event_id breaks ties. One user_id shuffle + one bucket-keyed aggregate.
# ---------------------------------------------------------------------------

_LTTB_BUCKETS = 10


def _lttb_ev_sql(dialect: str) -> str:
    """The bucketed/ranked event relation — one events pass carrying all
    three per-user windows. Referenced THREE times downstream (bucket
    centroids, triangle scoring, the first/last branch), so the Spark
    builder materializes it once (CTE inlining re-ran the window chain
    per reference: 4 scans / 9 windows measured)."""
    epoch = _us(dialect)
    return f"""
WITH raw AS (
  SELECT user_id, event_id, {epoch} AS us, value FROM {{events}}
)
  -- x rescaled to exact per-user day offsets: integer µs subtraction is
  -- exact, so x is bit-identical cross-engine and triangle areas stay at
  -- O(1) magnitude where the q6 quantum is meaningful (at raw-epoch
  -- magnitude ~1e15 the quantum is far below double ulp and argmax order
  -- would hinge on summation noise).
SELECT user_id, event_id,
  CAST(us - min(us) OVER (PARTITION BY user_id) AS DOUBLE) / 86400e6 AS x,
  value,
  ntile({_LTTB_BUCKETS}) OVER (
    PARTITION BY user_id ORDER BY us, event_id
  ) AS bkt,
  row_number() OVER (
    PARTITION BY user_id ORDER BY us, event_id
  ) AS rn,
  count(*) OVER (PARTITION BY user_id) AS n
FROM raw
"""


def _lttb_sql(dialect: str, ev_ref: str | None = None) -> str:
    area = (
        "abs((pb.cx - nb.cx) * (p.value - pb.cv) - "
        "(pb.cx - p.x) * (nb.cv - pb.cv))"
    )
    return f"""
WITH ev AS ({ev_ref or _lttb_ev_sql(dialect)}),
cent AS (
  SELECT user_id, bkt, avg(x) AS cx, {synth.q6("avg(value)")} AS cv
  FROM ev GROUP BY user_id, bkt
),
scored AS (
  SELECT p.user_id, p.event_id, p.bkt, p.rn, p.n,
    row_number() OVER (
      PARTITION BY p.user_id, p.bkt
      ORDER BY {synth.q6(area)} DESC, p.event_id
    ) AS ar
  FROM ev p
  JOIN cent pb ON p.user_id = pb.user_id AND pb.bkt = p.bkt - 1
  JOIN cent nb ON p.user_id = nb.user_id AND nb.bkt = p.bkt + 1
)
SELECT user_id, event_id, bkt, 'peak' AS kind
FROM scored WHERE ar = 1
UNION ALL
SELECT user_id, event_id, bkt,
  CASE WHEN rn = 1 THEN 'first' ELSE 'last' END AS kind
FROM ev WHERE rn = 1 OR rn = n
ORDER BY user_id, bkt, kind
"""


@register(
    "ts_downsample_lttb",
    oracle=_lttb_sql("duckdb").format(events="events"),
    doc="Largest-triangle-three-buckets downsampling (public method, "
    "Steinarsson 2013), parallelizable centroid-anchor variant: per-user "
    "equal-count buckets, endpoints kept, each interior bucket keeps its "
    "max-triangle-area point vs neighbor-bucket centroids (q6 area, "
    "event_id tie-break). One shuffle + one bucket aggregate (REF-ANALOG "
    "timeseries).",
    tags=("timeseries", "window", "sampling"),
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ev = checkpointed(
        spark, "lttb_ev",
        lambda: spark.sql(_lttb_ev_sql("spark"), events=events).coalesce(8),
        sf_dir,
    )
    return spark.sql(
        _lttb_sql(
            "spark",
            ev_ref="SELECT user_id, event_id, x, value, bkt, rn, n FROM {ev}",
        ),
        ev=ev,
    )


# ---------------------------------------------------------------------------
# ts_seasonal_decompose — classical additive decomposition (the naive-STL
# everyone actually runs): daily series → centered 7-day moving-average
# TREND (defined only where the full window exists — edges drop, as in
# statsmodels' convention) → day-of-week SEASONAL (mean detrended value
# per weekday) → REMAINDER. Exactness chain (ADVICE r6): the daily total
# is CARRIED as its BIGINT micro-unit sum — the 7-day trend frame sums
# int64 (commutative, order-free by construction; a DOUBLE frame sum over
# 1e-6-grid values is still IEEE accumulation-order-dependent and was
# only accidentally engine-identical) and divides ONCE by 7e6; the
# per-dow seasonal window likewise sums per-term-quantized BIGINT.
# No q6 needed until the final projection. Single pass:
# one corpus scan, one calendar-bounded groupBy (days), then two window
# functions over the ~30-row daily relation (the global window is
# SUMMARY-sized — bounded by the calendar, not the data — the acceptable
# class from the r6 unpartitioned-window audit).
# ---------------------------------------------------------------------------


def _seasonal_sql(dialect: str) -> str:
    # Day key and weekday via pure epoch-microsecond integer arithmetic
    # (the module's standard seam — no DATE column crosses the output
    # boundary: engines hand dates to pandas as different dtypes).
    # 1970-01-01 was a Thursday → dow 0 = Thursday; only consistency
    # matters for the seasonal grouping.
    if dialect == "spark":
        day = f"CAST({_us(dialect)} DIV 86400000000 AS BIGINT)"
    else:
        day = f"{_us(dialect)} // 86400000000"
    dow = "d % 7"
    ym = synth.sum_micro_int("value", 1e9)
    return f"""
WITH daily AS (
  SELECT {day} AS d, {ym} AS ym
  FROM {{events}} GROUP BY {day}
),
trended AS (
  SELECT d, CAST(ym AS DOUBLE) / 1000000e0 AS y, {dow} AS dow,
    CASE WHEN count(*) OVER w7 = 7
      THEN CAST(sum(ym) OVER w7 AS DOUBLE) / 7000000e0 END AS trend
  FROM daily
  WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seasoned AS (
  -- per-term micro-quantized detrended value: trend = exact7sum/7 is NOT
  -- on the 1e-6 grid, and a float sum over an ORDER-BY-less window
  -- partition is accumulation-order noise (the ADVICE-r5 hazard) — the
  -- BIGINT sum is commutative, the divisions deterministic IEEE
  SELECT d, y, dow, trend,
    (CAST(sum(CASE WHEN trend IS NOT NULL
        THEN CAST(floor((y - trend) * 1000000e0 + 0.5e0) AS BIGINT)
        ELSE 0 END) OVER wd AS DOUBLE) / 1000000e0)
      / greatest(sum(CASE WHEN trend IS NOT NULL THEN 1 ELSE 0 END) OVER wd, 1)
      AS seasonal
  FROM trended
  WINDOW wd AS (PARTITION BY dow)
)
SELECT d, {synth.q6("y")} AS y, {synth.q6("trend")} AS trend,
  {synth.q6("seasonal")} AS seasonal,
  {synth.q6("y - trend - seasonal")} AS remainder
FROM seasoned
WHERE trend IS NOT NULL
ORDER BY d
"""


@register(
    "ts_seasonal_decompose",
    oracle=_seasonal_sql("duckdb").format(events="events"),
    doc="Classical additive seasonal decomposition: exact-micro daily "
    "totals → centered 7-day moving-average trend (full-window rows "
    "only) → day-of-week seasonal means → remainder. Daily totals stay "
    "BIGINT micro-units through every frame/group sum (order-free int64, "
    "one divide at the end — ADVICE r6); "
    "windows run over the calendar-bounded daily summary, never the "
    "event stream (REF-ANALOG; completes the ts_* family with "
    "ts_resample_fill / ts_downsample_lttb).",
    tags=("timeseries", "window"),
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_seasonal_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# ts_autocorr — sample autocorrelation of the daily total series (r7)
#
# ACF at lags 1..10 over the same exact-micro daily summary
# ts_seasonal_decompose builds (lag 7 is the weekly seasonality the
# decomposition removes — the two keys cross-check each other). All
# accumulation is integer-exact: daily totals are BIGINT micro-units,
# lagged cross-products and squares are summed as DECIMAL(38,0)
# (ym ≈ 1e13 at sf0.1, squares ≈ 1e26 — past int64, inside 38 digits
# even at the 100× ladder), and the classic expansion
#   Σ(y_t−ȳ)(y_{t−k}−ȳ) = Σy_t·y_{t−k} − ȳ(Σ_a + Σ_b) + m·ȳ²
# turns the float work into a FIXED parse tree over a handful of exact
# integers — deterministic IEEE on both engines, no order dependence.
# Every window/join runs over the calendar-bounded daily relation
# (~30 rows), never the event stream: one scan, one groupBy(day),
# then summary-sized work (the acceptable global-window class from the
# r6 audit). The lag offsets join through a 10-row literal table against
# a row_number index, so missing calendar days collapse the sequence
# (observed-sequence ACF, the pandas `Series.autocorr` convention).
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 10


def _acf_lags() -> str:
    vals = ", ".join(f"({k})" for k in range(1, _ACF_MAX_LAG + 1))
    return f"(SELECT * FROM (VALUES {vals}) AS lg(lag_k))"


def _acf_ordered_sql(dialect: str) -> str:
    """The indexed daily summary — referenced THREE times downstream
    (stats + both sides of the lag join), so the Spark builder
    materializes it once: CTE inlining re-ran the events scan + groupBy
    per reference (3 parquet scans measured pre-materialization)."""
    if dialect == "spark":
        day = f"CAST({_us(dialect)} DIV 86400000000 AS BIGINT)"
    else:
        day = f"{_us(dialect)} // 86400000000"
    ym = synth.sum_micro_int("value", 1e9)
    return f"""
WITH daily AS (
  SELECT {day} AS d, {ym} AS ym
  FROM {{events}} GROUP BY {day}
)
SELECT ym, row_number() OVER (ORDER BY d) AS i FROM daily
"""


def _autocorr_sql(dialect: str, ordered_ref: str | None = None) -> str:
    # ȳ in value units; greatest() guards the (empty-input, never-emitted)
    # stats row under Spark ANSI's double 0/0 error.
    ybar = "(CAST(s1 AS DOUBLE) / (CAST(greatest(n, 1) AS DOUBLE) * 1000000e0))"
    num = (
        "(sxy / 1000000000000e0 "
        f"- {ybar} * ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 1000000e0) "
        f"+ CAST(n_pairs AS DOUBLE) * {ybar} * {ybar})"
    )
    den = f"(s2 / 1000000000000e0 - CAST(n AS DOUBLE) * {ybar} * {ybar})"
    ordered = ordered_ref or _acf_ordered_sql(dialect)
    return f"""
WITH ordered AS ({ordered}),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    coalesce(sum(ym), 0) AS s1,
    CAST(coalesce(sum(CAST(ym AS DECIMAL(38,0)) * ym), 0) AS DOUBLE) AS s2
  FROM ordered
),
pairs AS (
  SELECT lag_k, CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(CAST(a.ym AS DECIMAL(38,0)) * b.ym) AS DOUBLE) AS sxy,
    sum(a.ym) AS sa, sum(b.ym) AS sb
  FROM ordered a
  JOIN {_acf_lags()} ON a.i > lag_k
  JOIN ordered b ON b.i = a.i - lag_k
  GROUP BY lag_k
)
SELECT lag_k, n_pairs, {synth.q6(f"{num} / nullif({den}, 0e0)")} AS acf
FROM pairs CROSS JOIN stats
ORDER BY lag_k
"""


@register(
    "ts_autocorr",
    oracle=_autocorr_sql("duckdb").format(events="events"),
    doc="Sample autocorrelation function of the daily total series at "
    "lags 1..10: exact-micro daily sums (BIGINT), DECIMAL(38,0) "
    "cross-product/square accumulation (order-free past int64 range), "
    "mean-expansion identity evaluated as one fixed double parse tree. "
    "One event scan + one calendar-bounded groupBy; all lag joins run "
    "over the ~30-row daily summary via a 10-row literal lag table "
    "(REF-ANALOG; lag-7 cross-checks ts_seasonal_decompose's weekly "
    "seasonal).",
    tags=("timeseries", "stats", "window"),
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ordered = checkpointed(
        spark, "acf_ordered",
        lambda: spark.sql(_acf_ordered_sql("spark"), events=events).coalesce(1),
        sf_dir,
    )
    return spark.sql(
        _autocorr_sql("spark", ordered_ref="SELECT ym, i FROM {ordered}"),
        ordered=ordered,
    )


# ---------------------------------------------------------------------------
# ts_max_drawdown — per-user running-peak drawdown (r7)
#
# The classic path statistic (peak-to-trough loss of a cumulative
# series), here over each user's cumulative event value ordered by
# (ts, event_id). Everything stays in exact BIGINT micro-units until
# the final projection: cumulative sum and running max are incremental
# UNBOUNDED-PRECEDING frames (the O(n) class — NOT the O(n²) suffix
# frames the r7 skew ladder exposed), both riding ONE (user_id) hash
# exchange + one in-partition sort. The drawdown fraction divides once
# at the end, guarded for non-positive peaks.
# ---------------------------------------------------------------------------


def _drawdown_sql(dialect: str) -> str:
    us = _us(dialect)
    v6 = f"CAST(floor({synth.sat('value', 1e9)} * 1000000e0 + 0.5e0) AS BIGINT)"
    w = "PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return f"""
WITH ev AS (
  SELECT user_id, event_id, {us} AS us, {v6} AS v6 FROM {{events}}
),
path AS (
  SELECT user_id, event_id, us,
    sum(v6) OVER ({w}) AS cum6
  FROM ev
),
peaked AS (
  SELECT user_id, event_id, cum6,
    max(cum6) OVER ({w}) AS peak6
  FROM path
)
SELECT user_id,
  CAST(max(peak6 - cum6) AS BIGINT) AS max_drawdown_micro,
  {synth.q6("CAST(max(peak6 - cum6) AS DOUBLE) / 1000000e0")} AS max_drawdown,
  CAST(max(peak6) AS BIGINT) AS final_peak_micro
FROM peaked
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# ts_cross_corr — lead/lag cross-correlation of two event series (r7)
#
# "Do purchases lag clicks?": CCF of daily click counts (x) against
# daily purchase counts (y) at calendar lags −7..+7 (b.d = a.d + k, so
# missing days simply contribute no pair — real calendar lags, not row
# offsets). The textbook estimator: full-series means and variances,
# per-lag cross-sums, normalized by sqrt(Sxx·Syy). Every accumulation
# is exact — counts are BIGINT, products go through DECIMAL(38,0) (safe
# at any ladder scale) — and the float work is one fixed parse tree.
# One events scan into the calendar-bounded daily summary (materialized
# once; referenced three times), everything downstream summary-sized.
# ---------------------------------------------------------------------------

_CCF_MAX_LAG = 7


def _ccf_lags() -> str:
    vals = ", ".join(f"({k})" for k in range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1))
    return f"(SELECT * FROM (VALUES {vals}) AS lg(lag_k))"


def _ccf_daily_sql(dialect: str) -> str:
    if dialect == "spark":
        day = f"CAST({_us(dialect)} DIV 86400000000 AS BIGINT)"
    else:
        day = f"{_us(dialect)} // 86400000000"
    return f"""
SELECT {day} AS d,
  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
FROM {{events}} GROUP BY {day}
"""


def _cross_corr_sql(dialect: str, daily_ref: str | None = None) -> str:
    daily = daily_ref or _ccf_daily_sql(dialect)
    xbar = "(CAST(sx AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE))"
    ybar = "(CAST(sy AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE))"
    num = (
        f"(sxy - {ybar} * CAST(sxk AS DOUBLE) - {xbar} * CAST(syk AS DOUBLE) "
        f"+ CAST(n_pairs AS DOUBLE) * {xbar} * {ybar})"
    )
    den = (
        f"sqrt((sxx - CAST(n AS DOUBLE) * {xbar} * {xbar}) "
        f"* (syy - CAST(n AS DOUBLE) * {ybar} * {ybar}))"
    )
    return f"""
WITH daily AS ({daily}),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    coalesce(sum(x), 0) AS sx, coalesce(sum(y), 0) AS sy,
    CAST(coalesce(sum(CAST(x AS DECIMAL(38,0)) * x), 0) AS DOUBLE) AS sxx,
    CAST(coalesce(sum(CAST(y AS DECIMAL(38,0)) * y), 0) AS DOUBLE) AS syy
  FROM daily
),
pairs AS (
  SELECT lag_k, CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(CAST(a.x AS DECIMAL(38,0)) * b.y) AS DOUBLE) AS sxy,
    sum(a.x) AS sxk, sum(b.y) AS syk
  FROM daily a
  JOIN {_ccf_lags()} ON 1 = 1
  JOIN daily b ON b.d = a.d + lag_k
  GROUP BY lag_k
)
SELECT lag_k, n_pairs, {synth.q6(f"{num} / nullif({den}, 0e0)")} AS ccf
FROM pairs CROSS JOIN stats
ORDER BY lag_k
"""


@register(
    "ts_cross_corr",
    oracle=_cross_corr_sql("duckdb").format(events="events"),
    doc="Lead/lag cross-correlation of daily click vs purchase counts at "
    "calendar lags -7..+7 (missing days contribute no pair): full-series "
    "means/variances, per-lag cross-sums via the b.d = a.d + k equi-join "
    "over the materialized daily summary, DECIMAL(38,0) exact "
    "accumulation, one fixed double parse tree per lag (REF-ANALOG; the "
    "two-series sibling of ts_autocorr).",
    tags=("timeseries", "stats"),
)
def ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = checkpointed(
        spark, "ccf_daily",
        lambda: spark.sql(_ccf_daily_sql("spark"), events=events).coalesce(1),
        sf_dir,
    )
    return spark.sql(
        _cross_corr_sql("spark", daily_ref="SELECT d, x, y FROM {daily}"),
        daily=daily,
    )


@register(
    "ts_max_drawdown",
    oracle=_drawdown_sql("duckdb").format(events="events"),
    doc="Per-user maximum drawdown of the cumulative value path: "
    "running sum and running peak as incremental UNBOUNDED-PRECEDING "
    "frames (O(n) per partition, one user_id exchange), exact BIGINT "
    "micro-units end-to-end, one divide at the output boundary "
    "(REF-ANALOG; the path-statistic sibling of win_cusum_changepoint).",
    tags=("timeseries", "window"),
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_drawdown_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# ts_rollup_multires — hierarchical multi-resolution rollup (r8): the
# continuous-aggregate / hypertable-rollup pattern — the 1-hour tier is
# aggregated FROM the 10-minute tier, never from raw data, which is what
# makes materialized rollup pyramids cheap at 100 TB (each tier reads the
# one below, the raw table is scanned exactly once). Exactness is the
# point: per-event values are quantized to BIGINT micro-units BEFORE any
# sum (synth.sum_micro_int), so re-aggregating tier sums is commutative
# and EXACTLY equals aggregating raw — the DuckDB oracle computes the
# hour tier directly from raw events, so the driver hash PROVES
# rollup-of-rollup ≡ direct. Output: hour buckets per event type with
# event counts, exact value sums, and the count of contributing 10-min
# buckets. One corpus shuffle (the 10-min groupBy with map-side partial
# aggregation); the hour tier re-shuffles only the bucket summary.
# ---------------------------------------------------------------------------


def _rollup_multires_sql(dialect: str) -> str:
    us = "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"
    vm = synth.sum_micro_int("value", 1e9)
    fine = f"""
SELECT CAST(floor({us} / 600000000e0) AS BIGINT) * 600 AS b10,
  event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST({vm} AS BIGINT) AS sum_v_u
FROM {{events}}
WHERE ts IS NOT NULL AND event_type IS NOT NULL
GROUP BY 1, 2
"""
    if dialect == "duckdb":
        # The oracle computes the HOUR tier directly from raw events (and
        # the fine-bucket count from the fine tier): equality with the
        # Spark side's tier-from-tier plan is the rollup-equivalence proof.
        return f"""
WITH fine AS ({fine}),
direct AS (
  SELECT CAST(floor({us} / 3600000000e0) AS BIGINT) * 3600 AS b60,
    event_type,
    CAST(count(*) AS BIGINT) AS n_events,
    CAST({vm} AS BIGINT) AS sum_v_u
  FROM {{events}}
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
fb AS (
  SELECT CAST(floor(b10 / 3600e0) AS BIGINT) * 3600 AS b60, event_type,
    CAST(count(*) AS BIGINT) AS n_fine_buckets
  FROM fine GROUP BY 1, 2
)
SELECT d.b60, d.event_type, d.n_events, d.sum_v_u, fb.n_fine_buckets
FROM direct d JOIN fb ON d.b60 = fb.b60 AND d.event_type = fb.event_type
ORDER BY d.b60, d.event_type
"""
    return f"""
WITH fine AS ({fine})
SELECT CAST(floor(b10 / 3600e0) AS BIGINT) * 3600 AS b60,
  event_type,
  CAST(sum(n) AS BIGINT) AS n_events,
  CAST(sum(sum_v_u) AS BIGINT) AS sum_v_u,
  CAST(count(*) AS BIGINT) AS n_fine_buckets
FROM fine
GROUP BY 1, 2
ORDER BY b60, event_type
"""


@register(
    "ts_rollup_multires",
    oracle=_rollup_multires_sql("duckdb").format(events="events"),
    doc="Hierarchical multi-resolution rollup (the continuous-aggregate / "
    "hypertable pattern): the 1-hour tier aggregates the 10-minute tier, "
    "never raw data — one corpus shuffle, each higher tier reads the one "
    "below. Values quantized to BIGINT micro-units BEFORE any sum, so "
    "tier-from-tier re-aggregation is commutative and the oracle — which "
    "computes the hour tier DIRECTLY from raw events — proves "
    "rollup-of-rollup ≡ direct, hash-exact (REF-ANALOG; the batch "
    "foundation of the streaming window family).",
    tags=("timeseries", "agg", "scale"),
)
def ts_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_rollup_multires_sql("spark"), events=events)
