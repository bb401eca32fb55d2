"""Statistics / ML-adjacent relational operators (REF-ANALOG).

Three shapes every analytics+ML user runs on tabular data, each expressed
as one declarative plan with the repo's cross-engine float discipline:

- `agg_histogram` — adaptive equi-width histogram. min/max are order-free
  (exact), the bucket width and floor() bucketing are single IEEE ops, so
  bucketing is bit-identical cross-engine without width_bucket dialects.
- `win_interpolate_gaps` — time-series gap filling: masked readings are
  linearly interpolated between the nearest non-null neighbors per user
  (IGNORE NULLS window frames carry both the neighbor value and ITS event
  time), edges carry the nearest observation.
- `ml_linreg_closed` — closed-form simple linear regression per group from
  EXACT decimal moments (the agg_corr_moments discipline): slope,
  intercept, R², and a point prediction. This is distributed model
  fitting as a 6-number-per-group aggregation — the single-pass shape
  that trains on 100 TB with one shuffle.

Scale notes: histogram and regression shuffle one bounded row per
(group/bucket); interpolation shuffles once on user_id for its ordered
windows — identical to the sessionization discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import synth
from ..common import checkpointed
from ..io import load_table
from ..registry import register

_N_BUCKETS = 20


# ---------------------------------------------------------------------------
# agg_histogram
# ---------------------------------------------------------------------------


def _histogram_sql(dialect: str) -> str:
    del dialect  # shared text
    width = f"((ext.hi - ext.lo) / {_N_BUCKETS}e0)"
    # Degenerate guard: if every value is identical (hi = lo) the width is 0
    # and floor(0/0) would yield NaN buckets; route all rows to bucket 0.
    return f"""
WITH ext AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM {{orders}}
),
bucketed AS (
  SELECT CASE WHEN ext.hi = ext.lo THEN CAST(0 AS BIGINT)
         ELSE least(CAST(floor((o_totalprice - ext.lo) / {width}) AS BIGINT),
                    {_N_BUCKETS - 1}) END AS bucket,
    ext.lo, ext.hi
  FROM {{orders}} CROSS JOIN ext
)
SELECT bucket, count(*) AS n,
  {synth.q6(f"lo + bucket * {'((hi - lo) / ' + str(_N_BUCKETS) + 'e0)'}")} AS bucket_lo
FROM bucketed
GROUP BY bucket, lo, hi
ORDER BY bucket
"""


@register(
    "agg_histogram",
    oracle=_histogram_sql("duckdb").format(orders="orders"),
    doc="Adaptive equi-width histogram (20 buckets over the observed "
    "min/max of order totals): order-free extremes + one floor() per row, "
    "bit-identical bucketing cross-engine; top bucket closed on the max "
    "(REF-ANALOG of the reference's min-max normalization, app.py:76).",
    tags=("agg", "stats"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return spark.sql(_histogram_sql("spark"), orders=orders)


# ---------------------------------------------------------------------------
# win_interpolate_gaps
# ---------------------------------------------------------------------------


def _ignore_nulls(dialect: str, fn: str, expr: str, frame: str) -> str:
    """IGNORE NULLS window dialect seam: Spark puts the clause after the
    call, DuckDB inside the argument list."""
    if dialect == "spark":
        return f"{fn}({expr}) IGNORE NULLS OVER ({frame})"
    return f"{fn}({expr} IGNORE NULLS) OVER ({frame})"


def _interpolate_sql(dialect: str) -> str:
    us = "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"
    base = "PARTITION BY user_id ORDER BY us, event_id"
    prev = f"{base} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    # The forward neighbor is read off the REVERSE sort: `first_value …
    # 1 FOLLOWING AND UNBOUNDED FOLLOWING` makes Spark re-scan the whole
    # remaining frame per row (O(n²) per partition — the r7 skew-ladder
    # cliff class); `last_value IGNORE NULLS` over the reverse-sorted
    # UNBOUNDED PRECEDING..1 PRECEDING frame is the identical value with
    # an incremental O(n) frame, on the same exchange.
    rbase = "PARTITION BY user_id ORDER BY us DESC, event_id DESC"
    nxt = f"{rbase} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    pv = _ignore_nulls(dialect, "last_value", "v", prev)
    pus = _ignore_nulls(
        dialect, "last_value", "CASE WHEN v IS NOT NULL THEN us END", prev
    )
    nv = _ignore_nulls(dialect, "last_value", "v", nxt)
    nus = _ignore_nulls(
        dialect, "last_value", "CASE WHEN v IS NOT NULL THEN us END", nxt
    )
    # Equal neighbor timestamps (possible once micros collide at scale)
    # would make the weight 0/0 = NaN; prefer the backward neighbor then.
    interp = (
        "CASE WHEN nus = pus THEN pv "
        "ELSE pv + (nv - pv) * ((us - pus) / (nus - pus + 0e0)) END"
    )
    return f"""
WITH ev AS (
  SELECT event_id, user_id, {us} AS us,
    CASE WHEN event_id % 7 = 0 THEN CAST(NULL AS DOUBLE) ELSE value END AS v
  FROM {{events}}
),
ctx AS (
  SELECT event_id, user_id, us, v,
    {pv} AS pv, {pus} AS pus, {nv} AS nv, {nus} AS nus
  FROM ev
)
SELECT event_id, user_id,
  CASE WHEN v IS NOT NULL THEN 'observed'
       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interpolated'
       ELSE 'edge' END AS fill_kind,
  {synth.q6(
        "CASE WHEN v IS NOT NULL THEN v "
        f"WHEN pv IS NOT NULL AND nv IS NOT NULL THEN {interp} "
        "ELSE coalesce(pv, nv, 0e0) END"
    )} AS v_filled
FROM ctx
ORDER BY user_id, us, event_id
"""


@register(
    "win_interpolate_gaps",
    oracle=_interpolate_sql("duckdb").format(events="events"),
    doc="Time-series gap filling: every 7th reading masked to NULL, then "
    "linearly interpolated between the nearest non-null neighbors per user "
    "(IGNORE NULLS frames carry neighbor value AND its event time); edges "
    "take the nearest observation. One user_id shuffle (REF-ANALOG).",
    tags=("window", "stats", "timeseries"),
)
def win_interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_interpolate_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# ml_linreg_closed
# ---------------------------------------------------------------------------

_PRED_X = "25e0"


def _linreg_sql(dialect: str) -> str:
    del dialect  # shared text
    dx = "CAST(l_quantity AS DECIMAL(18,2))"
    dy = "CAST(l_extendedprice AS DECIMAL(18,2))"
    slope = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    intercept = f"(sy - ({slope}) * sx) / n"
    r2 = (
        f"(n * sxy - sx * sy) * (n * sxy - sx * sy) / "
        f"((n * sxx - sx * sx) * (n * syy - sy * sy))"
    )
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
       THEN CAST(NULL AS DOUBLE) ELSE {synth.q6(slope)} END AS slope,
  CASE WHEN n * sxx - sx * sx = 0e0 OR n * syy - sy * sy = 0e0
       THEN CAST(NULL AS DOUBLE) ELSE {synth.q6(intercept)} END AS intercept,
  CASE WHEN n * sxx - sx * sx = 0e0 OR n * syy - sy * sy = 0e0
       THEN CAST(NULL AS DOUBLE) ELSE {synth.q6(r2)} END AS r2,
  CASE WHEN n * sxx - sx * sx = 0e0 OR n * syy - sy * sy = 0e0
       THEN CAST(NULL AS DOUBLE)
       ELSE {synth.q6(f"({intercept}) + ({slope}) * {_PRED_X}")} END AS yhat_at_25
FROM m ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# agg_skew_kurt — population skewness / excess kurtosis per group from raw
# integer power sums: l_quantity is integer-valued, so Σx..Σx⁴ are exact
# BIGINTs (max ~50⁴·6·10⁵ ≈ 3.8e12 ≪ 2⁶³); the central-moment combination
# runs on identical doubles in both engines. The builtin skewness()/
# kurtosis() stream doubles in partition order → drift; this is order-free.
# ---------------------------------------------------------------------------


def _skew_kurt_sql(dialect: str) -> str:
    del dialect  # shared text
    q = "CAST(l_quantity AS BIGINT)"
    mom = f"""
  SELECT l_returnflag,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(sum({q}) AS DOUBLE) AS s1,
    CAST(sum({q} * {q}) AS DOUBLE) AS s2,
    CAST(sum({q} * {q} * {q}) AS DOUBLE) AS s3,
    CAST(sum({q} * {q} * {q} * {q}) AS DOUBLE) AS s4
  FROM {{lineitem}} GROUP BY l_returnflag"""
    mean = "(s1 / n)"
    m2 = f"(s2 / n - {mean} * {mean})"
    m3 = f"(s3 / n - 3e0 * {mean} * s2 / n + 2e0 * {mean} * {mean} * {mean})"
    m4 = (
        f"(s4 / n - 4e0 * {mean} * s3 / n + 6e0 * {mean} * {mean} * s2 / n "
        f"- 3e0 * {mean} * {mean} * {mean} * {mean})"
    )
    return f"""
WITH m AS ({mom})
SELECT l_returnflag,
  {synth.q6(mean)} AS mean_qty,
  CASE WHEN {m2} = 0e0 THEN CAST(NULL AS DOUBLE)
       ELSE {synth.q6(f"{m3} / pow({m2}, 1.5e0)")} END AS skewness,
  CASE WHEN {m2} = 0e0 THEN CAST(NULL AS DOUBLE)
       ELSE {synth.q6(f"{m4} / ({m2} * {m2}) - 3e0")} END AS excess_kurtosis
FROM m ORDER BY l_returnflag
"""


@register(
    "agg_skew_kurt",
    oracle=_skew_kurt_sql("duckdb").format(lineitem="lineitem"),
    doc="Population skewness and excess kurtosis per group from exact "
    "integer power sums (Σx..Σx⁴ are BIGINT-exact for the integer-valued "
    "quantity) — order-free higher-moment statistics in one pass, the "
    "agg_corr_moments discipline extended to 3rd/4th moments "
    "(REF-ANALOG).",
    tags=("agg", "stats"),
)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return spark.sql(_skew_kurt_sql("spark"), lineitem=lineitem)


@register(
    "ml_linreg_closed",
    oracle=_linreg_sql("duckdb").format(lineitem="lineitem"),
    doc="Closed-form simple linear regression (price ~ quantity) per "
    "return flag from exact decimal moments: slope, intercept, R², and a "
    "point prediction — distributed model fitting as one 6-number "
    "aggregation per group (REF-ANALOG; agg_corr_moments discipline).",
    tags=("agg", "stats", "ml"),
)
def ml_linreg_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return spark.sql(_linreg_sql("spark"), lineitem=lineitem)


# ---------------------------------------------------------------------------
# agg_market_basket — association mining over order baskets: support,
# confidence and lift for part pairs co-occurring in an order. The pair
# join is keyed on l_orderkey and bounded by basket size (TPC-H-ish
# baskets are ~4 lines), so pair fan-out is O(orders · basket²) — the
# classic a-priori first pass, never a global part×part product.
# ---------------------------------------------------------------------------

_MB_MIN_PAIR = 3  # minimum pair support


def _market_basket_sql(dialect: str) -> str:
    # MATERIALIZED (DuckDB only; Spark has no such hint and plans this
    # fine): with inlined CTEs DuckDB's join-order optimizer loses the
    # pair_counts/item_counts cardinalities and plans the part_a/part_b
    # equality joins as CROSS_PRODUCT+FILTER — ~4×10^10 filtered pairs on
    # the r13 skew fixture (>400 s vs 4 s materialized). Materializing
    # pins the hash joins; results are identical.
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    conf = "pc.n_pair / (ia.n_orders + 0e0)"
    lift = f"({conf}) / (ib.n_orders / (t.n + 0e0))"
    return f"""
WITH baskets AS {mat}(
  SELECT DISTINCT l_orderkey, l_partkey FROM {{lineitem}}
),
item_counts AS {mat}(
  SELECT l_partkey, count(*) AS n_orders FROM baskets GROUP BY l_partkey
),
t AS (SELECT count(DISTINCT l_orderkey) AS n FROM baskets),
pair_counts AS {mat}(
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_pair
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {_MB_MIN_PAIR}
)
SELECT pc.part_a, pc.part_b, pc.n_pair,
  {synth.q6(conf)} AS confidence_a_to_b,
  {synth.q6(lift)} AS lift
FROM pair_counts pc
JOIN item_counts ia ON pc.part_a = ia.l_partkey
JOIN item_counts ib ON pc.part_b = ib.l_partkey
CROSS JOIN t
ORDER BY lift DESC, pc.part_a, pc.part_b
LIMIT 25
"""


@register(
    "agg_market_basket",
    oracle=_market_basket_sql("duckdb").format(lineitem="lineitem"),
    doc="Market-basket association mining: part pairs co-occurring in an "
    "order with support / confidence / lift, top-25 by lift. The pair "
    "join is keyed on orderkey (bounded by basket size), item counts "
    "broadcast — the a-priori first pass, no global part×part product "
    "(REF-ANALOG).",
    tags=("agg", "join", "stats"),
)
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return spark.sql(_market_basket_sql("spark"), lineitem=lineitem)


# ---------------------------------------------------------------------------
# win_rolling_corr — rolling autocorrelation: Pearson correlation between
# each reading and its predecessor over the trailing 20 pairs per user,
# from integer-exact milli-scaled frame sums (the win_moving_zscore
# discipline: BIGINT sums carry no float order, BIGINT→DOUBLE casts are
# IEEE-deterministic).
# ---------------------------------------------------------------------------

_RC_FRAME = 19  # trailing frame: current + 19 preceding pairs


def _rolling_corr_sql(dialect: str) -> str:
    us = "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"
    w = (
        "PARTITION BY user_id ORDER BY us, event_id "
        f"ROWS BETWEEN {_RC_FRAME} PRECEDING AND CURRENT ROW"
    )
    corr = (
        "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        "(sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
        "sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) + 1e0)"
    )
    return f"""
WITH ev AS (
  -- synth.sat front gate (r4 adversarial sweep): the frame sum of ~20
  -- squared milli-unit values must fit int64 under Spark ANSI —
  -- 20·(b·10³)² ≤ 9.2×10¹⁸ ⇒ b ≤ 6.8×10⁵; 6×10⁵ leaves margin.
  SELECT event_id, user_id, {us} AS us,
    CAST(floor({synth.sat("value", 6e5)} * 1e3) AS BIGINT) AS x
  FROM {{events}}
),
paired AS (
  SELECT event_id, user_id, us, x,
    lag(x) OVER (PARTITION BY user_id ORDER BY us, event_id) AS y
  FROM ev
),
framed AS (
  SELECT event_id, user_id, us,
    CAST(count(*) OVER ({w}) AS DOUBLE) AS n,
    sum(x) OVER ({w}) AS sx,
    sum(y) OVER ({w}) AS sy,
    sum(x * x) OVER ({w}) AS sxx,
    sum(y * y) OVER ({w}) AS syy,
    sum(x * y) OVER ({w}) AS sxy
  FROM paired
  WHERE y IS NOT NULL
)
SELECT event_id, user_id, {synth.q6(corr)} AS rolling_autocorr
FROM framed
WHERE n >= 5
ORDER BY user_id, us, event_id
"""


@register(
    "win_rolling_corr",
    oracle=_rolling_corr_sql("duckdb").format(events="events"),
    doc="Rolling autocorrelation per user: Pearson correlation of each "
    "reading with its predecessor over the trailing 20 pairs, from "
    "integer-exact milli-scaled frame sums (no float-order drift; +1 "
    "variance damping keeps constant-window frames defined) "
    "(REF-ANALOG; the win_moving_zscore discipline extended to products).",
    tags=("window", "stats", "timeseries"),
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_rolling_corr_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# agg_gini_revenue — revenue-concentration inequality per market segment:
# the Gini coefficient from the rank-weighted formulation
# G = 2·Σ(rank·x) / (n·Σx) − (n+1)/n over per-customer revenue cents.
# Every sum is DECIMAL-exact (cents are integers, rank·cents products sum
# as DECIMAL(38,0)); ties rank deterministically by customer key.
# ---------------------------------------------------------------------------


def _gini_sql(dialect: str) -> str:
    del dialect  # shared text
    return f"""
WITH cust AS (
  SELECT c_mktsegment, o_custkey,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM {{orders}} JOIN {{customer}} ON c_custkey = o_custkey
  GROUP BY c_mktsegment, o_custkey
),
ranked AS (
  SELECT c_mktsegment, cents,
    row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY cents, o_custkey) AS rk
  FROM cust
),
m AS (
  SELECT c_mktsegment,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(CAST(sum(CAST(cents AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS DOUBLE) AS s,
    CAST(sum(CAST(rk AS DECIMAL(18,0)) * CAST(cents AS DECIMAL(18,0))) AS DOUBLE) AS w
  FROM ranked
  GROUP BY c_mktsegment
)
SELECT c_mktsegment,
  CAST(n AS BIGINT) AS n_customers,
  {synth.q6("2e0 * w / (n * s) - (n + 1e0) / n")} AS gini
FROM m ORDER BY c_mktsegment
"""


@register(
    "agg_gini_revenue",
    oracle=_gini_sql("duckdb").format(customer="customer", orders="orders"),
    doc="Gini coefficient of per-customer revenue concentration per market "
    "segment, rank-weighted formulation with DECIMAL-exact cent sums and "
    "deterministic tie ranking — inequality metrics as one ranked window "
    "plus one grouped aggregate (REF-ANALOG).",
    tags=("agg", "stats"),
)
def agg_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _gini_sql("spark"),
        orders=load_table(spark, sf_dir, "orders"),
        customer=load_table(spark, sf_dir, "customer"),
    )


# ---------------------------------------------------------------------------
# agg_ohlc_bars — time-series downsampling to 30-minute OHLC bars: open and
# close come from deterministic (us, event_id)-ordered row_numbers folded
# into conditional aggregates, high/low are order-free extremes. One
# bucket-keyed shuffle; the standard resample shape for telemetry/market
# data.
# ---------------------------------------------------------------------------

_BAR_US = 1_800_000_000  # 30-minute bars


def _ohlc_sql(dialect: str) -> str:
    us = "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"
    return f"""
WITH ev AS (
  SELECT CAST(floor({us} / {_BAR_US}e0) AS BIGINT) AS bar,
    {us} AS us, event_id, value
  FROM {{events}}
),
rn AS (
  SELECT bar, value,
    row_number() OVER (PARTITION BY bar ORDER BY us, event_id) AS rf,
    row_number() OVER (PARTITION BY bar ORDER BY us DESC, event_id DESC) AS rl
  FROM ev
)
SELECT bar, count(*) AS n_events,
  max(CASE WHEN rf = 1 THEN value END) AS open_v,
  max(value) AS high_v,
  min(value) AS low_v,
  max(CASE WHEN rl = 1 THEN value END) AS close_v
FROM rn
GROUP BY bar
ORDER BY bar
"""


@register(
    "agg_ohlc_bars",
    oracle=_ohlc_sql("duckdb").format(events="events"),
    doc="30-minute OHLC downsampling bars: open/close via deterministic "
    "(ts, event_id)-ordered row_numbers folded into conditional "
    "aggregates, high/low as order-free extremes — one bucket-keyed "
    "shuffle, the standard telemetry/market resample (REF-ANALOG).",
    tags=("agg", "timeseries"),
)
def agg_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_ohlc_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# agg_mad_robust — robust dispersion and outlier counting: median absolute
# deviation per group (both medians exact R-7 interpolation, q6-quantized
# before reuse so the outlier boundary is bit-identical cross-engine),
# outliers = |x − median| > 3·1.4826·MAD (the normal-consistency scaling).
# ---------------------------------------------------------------------------


def _pct(dialect: str, expr: str, p: str) -> str:
    if dialect == "spark":
        return f"percentile({expr}, {p}e0)"
    return f"quantile_cont({expr}, {p})"


def _mad_sql(dialect: str) -> str:
    med = synth.q6(_pct(dialect, "l_extendedprice", "0.5"))
    mad = synth.q6(_pct(dialect, "abs(d.x - d.m)", "0.5"))
    return f"""
WITH med AS (
  SELECT l_returnflag, {med} AS m FROM {{lineitem}} GROUP BY l_returnflag
),
dev AS (
  SELECT l.l_returnflag, l.l_extendedprice AS x, med.m
  FROM {{lineitem}} l JOIN med ON l.l_returnflag = med.l_returnflag
),
stats AS (
  SELECT d.l_returnflag, d.m, {mad} AS mad
  FROM dev d GROUP BY d.l_returnflag, d.m
)
SELECT d.l_returnflag, s.m AS median_price, s.mad,
  CAST(sum(CASE WHEN abs(d.x - s.m) > 3e0 * 1.4826e0 * s.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  CAST(sum(CASE WHEN abs(d.x - s.m) > s.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond_mad
FROM dev d JOIN stats s ON d.l_returnflag = s.l_returnflag
GROUP BY d.l_returnflag, s.m, s.mad
ORDER BY d.l_returnflag
"""


@register(
    "agg_mad_robust",
    oracle=_mad_sql("duckdb").format(lineitem="lineitem"),
    doc="Median absolute deviation per group with outlier counting "
    "(|x − median| > 3·1.4826·MAD, plus the always-populated beyond-1-MAD "
    "count so the threshold comparison is exercised at every scale — the "
    "uniform-ish test prices have no 3-sigma-equivalent tail): both "
    "medians exact R-7 interpolation, "
    "q6-quantized before reuse so the outlier boundary is bit-identical "
    "cross-engine — the robust twin of the z-score monitor (REF-ANALOG).",
    tags=("agg", "stats", "quality"),
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_mad_sql("spark"), lineitem=load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# agg_entropy — Shannon entropy of each user's event-type distribution (a
# standard behavioral/quality feature): H = −Σ p·ln p from exact integer
# counts, ln q6-quantized. Two bounded-key aggregations; the per-user type
# histogram is at most |event types| rows.
# ---------------------------------------------------------------------------


def _entropy_sql(dialect: str) -> str:
    del dialect  # shared text
    h = synth.q6(
        "-sum((c + 0e0) / n * ln((c + 0e0) / n))"
    )
    return f"""
WITH type_counts AS (
  SELECT user_id, event_type, count(*) AS c
  FROM {{events}} GROUP BY user_id, event_type
),
totals AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_types
  FROM type_counts GROUP BY user_id
)
SELECT t.user_id, tt.n AS n_events, tt.n_types, {h} AS entropy
FROM type_counts t JOIN totals tt ON t.user_id = tt.user_id
GROUP BY t.user_id, tt.n, tt.n_types
ORDER BY t.user_id
"""


@register(
    "agg_entropy",
    oracle=_entropy_sql("duckdb").format(events="events"),
    doc="Shannon entropy of each user's event-type distribution from exact "
    "integer counts (−Σ p·ln p, q6-quantized ln) — the behavioral-"
    "diversity feature; two bounded-key aggregations, histogram rows "
    "capped by the type cardinality (REF-ANALOG).",
    tags=("agg", "stats"),
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_entropy_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# ml_naive_bayes — multinomial naive-Bayes language classifier trained AND
# evaluated in one declarative plan (the statistical upgrade of
# ns_text_langid's profile overlap): add-1-smoothed per-language token
# log-likelihoods + log priors from the corpus itself, per-document score
# = ln P(lang) + Σ ln P(token|lang), argmax prediction, per-language
# accuracy report. Training is two bounded-key aggregations ((lang, token)
# and lang); scoring joins the token stream to the (broadcast-sized)
# likelihood table — corpus scanned once, shuffled on (doc, lang) then
# lang. EXACT-INTEGER discipline (same rationale as win_cusum_changepoint):
# per-token log-likelihoods and the log prior are q6-quantized to BIGINT
# micro-units BEFORE summation, so the per-document score is an exact
# integer sum — immune to float summation-order noise that an unordered
# sum(double) would inject at the argmax boundary cross-engine — and the
# argmax row_number with a lang tie-break is fully deterministic.
# ---------------------------------------------------------------------------


def _naive_bayes_sql(dialect: str, tok_ref: str | None = None) -> str:
    # `tok` is referenced FOUR times (labeled, vocab, the distinct-token
    # likelihood grid, scoring) — the Spark builder materializes the
    # token stream once (Spark CTE inlining re-ran the documents scan +
    # explode per reference: 10 parquet scans measured); DuckDB
    # materializes CTEs natively, so the shared structure is one-pass on
    # the oracle side either way.
    from ..functions.text import tokens_sql

    score = "pr.lp6 + s.ll6"
    return f"""
WITH tok AS ({tok_ref or tokens_sql(dialect)}),
labeled AS (
  SELECT t.doc_id, t.token, d.lang FROM tok t
  JOIN {{documents}} d ON t.doc_id = d.doc_id
),
cnt AS (
  SELECT lang, token, count(*) AS c FROM labeled GROUP BY lang, token
),
ltot AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS tl FROM cnt GROUP BY lang
),
vocab AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM tok),
prior AS (
  SELECT lang,
    CAST(floor(ln(count(*) / (SELECT count(*) + 0e0 FROM {{documents}}))
               * 1e6 + 0.5e0) AS BIGINT) AS lp6
  FROM {{documents}} GROUP BY lang
),
ll AS (
  SELECT lt.lang, tk.token,
    CAST(floor(ln((coalesce(c.c, 0) + 1e0) / (lt.tl + vb.v + 0e0))
               * 1e6 + 0.5e0) AS BIGINT) AS l6
  FROM (SELECT DISTINCT token FROM tok) tk
  CROSS JOIN ltot lt
  CROSS JOIN vocab vb
  LEFT JOIN cnt c ON c.lang = lt.lang AND c.token = tk.token
),
scored AS (
  SELECT t.doc_id, l.lang, CAST(sum(l.l6) AS BIGINT) AS ll6
  FROM tok t JOIN ll l ON t.token = l.token
  GROUP BY t.doc_id, l.lang
),
ranked AS (
  SELECT s.doc_id, s.lang AS pred,
    row_number() OVER (
      PARTITION BY s.doc_id ORDER BY {score} DESC, s.lang
    ) AS rn
  FROM scored s JOIN prior pr ON s.lang = pr.lang
),
pred AS (SELECT doc_id, pred FROM ranked WHERE rn = 1)
SELECT d.lang, count(*) AS n_docs,
  CAST(sum(CASE WHEN p.pred = d.lang THEN 1 ELSE 0 END) AS BIGINT)
    AS n_correct,
  {synth.q6("sum(CASE WHEN p.pred = d.lang THEN 1e0 ELSE 0e0 END) / count(*)")}
    AS accuracy
FROM {{documents}} d JOIN pred p ON d.doc_id = p.doc_id
GROUP BY d.lang
ORDER BY d.lang
"""


@register(
    "ml_naive_bayes",
    oracle=_naive_bayes_sql("duckdb").format(documents="documents"),
    doc="Multinomial naive Bayes trained and evaluated in one plan: add-1 "
    "per-language token log-likelihoods + log priors, per-doc argmax "
    "(q6-quantized score, lang tie-break → deterministic), per-language "
    "training accuracy. Two bounded-key training aggregations over ONE "
    "materialized token stream; scoring joins it to the broadcast-sized "
    "likelihood table (REF-ANALOG statml).",
    tags=("statml", "ns", "text"),
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared corpus token materialization (functions.text) — one
    # tokenize per (session, sf) across the whole text family
    from ..functions.text import TOK_REF, cached_tokens

    return spark.sql(
        _naive_bayes_sql("spark", tok_ref=TOK_REF),
        tok=cached_tokens(spark, sf_dir),
        documents=load_table(spark, sf_dir, "documents"),
    )


# ---------------------------------------------------------------------------
# agg_t_test — Welch's two-sample t-test from EXACT decimal moments (the
# ml_linreg_closed discipline): per order-status, compare mean order value
# of high-priority (1-URGENT/2-HIGH) vs normal/low orders. Sums of
# DECIMAL(18,2) are exact in both engines, so n/Σx/Σx² are bit-identical
# and the t statistic / Welch–Satterthwaite dof computed from them are the
# same doubles. One grouped aggregation — the 100 TB A/B-test shape.
# ---------------------------------------------------------------------------


def _t_test_sql(dialect: str) -> str:
    del dialect  # shared text
    d = "CAST(o_totalprice AS DECIMAL(18,2))"
    hi = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    va = "((sxa - sa * sa / na) / (na - 1e0))"  # sample variance, group A
    vb = "((sxb - sb * sb / nb) / (nb - 1e0))"
    sea = f"({va} / na)"
    seb = f"({vb} / nb)"
    t = f"((sa / na - sb / nb) / sqrt({sea} + {seb}))"
    dof = (
        f"(({sea} + {seb}) * ({sea} + {seb}) / "
        f"({sea} * {sea} / (na - 1e0) + {seb} * {seb} / (nb - 1e0)))"
    )
    return f"""
WITH m AS (
  SELECT o_orderstatus,
    CAST(sum(CASE WHEN {hi} THEN 1 ELSE 0 END) AS DOUBLE) AS na,
    CAST(sum(CASE WHEN {hi} THEN {d} END) AS DOUBLE) AS sa,
    CAST(sum(CASE WHEN {hi} THEN {d} * {d} END) AS DOUBLE) AS sxa,
    CAST(sum(CASE WHEN NOT ({hi}) THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
    CAST(sum(CASE WHEN NOT ({hi}) THEN {d} END) AS DOUBLE) AS sb,
    CAST(sum(CASE WHEN NOT ({hi}) THEN {d} * {d} END) AS DOUBLE) AS sxb
  FROM {{orders}} GROUP BY o_orderstatus
)
SELECT o_orderstatus,
  CAST(na AS BIGINT) AS n_high, CAST(nb AS BIGINT) AS n_normal,
  {synth.q6("sa / na")} AS mean_high,
  {synth.q6("sb / nb")} AS mean_normal,
  {synth.q6(t)} AS t_stat,
  {synth.q6(dof)} AS welch_dof
FROM m
WHERE na > 1 AND nb > 1
ORDER BY o_orderstatus
"""


@register(
    "agg_t_test",
    oracle=_t_test_sql("duckdb").format(orders="orders"),
    doc="Welch two-sample t-test per order status (high- vs normal-priority "
    "order values) from exact decimal moments — t statistic + "
    "Welch–Satterthwaite dof in one grouped aggregation; the distributed "
    "A/B-test shape (REF-ANALOG statml).",
    tags=("agg", "stats"),
)
def agg_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_t_test_sql("spark"), orders=load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# agg_chi2_independence — chi-square test of independence for event_type ×
# weekday (is the event mix stable across the week?): observed counts are
# exact integers, expected counts row·col/N are single IEEE expressions
# over them, and the statistic sums (o−e)²/e over the bounded contingency
# table (≤ types×7 cells — a scalar reduction, never data-sized). The
# categorical sibling of agg_t_test; completes the hypothesis-test pair.
# ---------------------------------------------------------------------------


def _chi2_sql(dialect: str) -> str:
    dow = (
        "CAST(date_part('dow', ts) AS INT)"
        if dialect == "duckdb"
        else "CAST(dayofweek(ts) AS INT) - 1"  # align: Sunday = 0
    )
    return f"""
WITH obs AS (
  SELECT event_type, {dow} AS dow, count(*) AS o
  FROM {{events}} GROUP BY event_type, {dow}
),
rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY event_type),
ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY dow),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
cells AS (
  SELECT obs.o, rt.r * ct.c / (tot.n + 0e0) AS e
  FROM obs JOIN rt ON obs.event_type = rt.event_type
  JOIN ct ON obs.dow = ct.dow CROSS JOIN tot
),
dims AS (
  SELECT count(DISTINCT event_type) AS nr, count(DISTINCT dow) AS nc FROM obs
)
SELECT
  {synth.q6("sum((cells.o - cells.e) * (cells.o - cells.e) / cells.e)")}
    AS chi2,
  CAST((dims.nr - 1) * (dims.nc - 1) AS BIGINT) AS dof,
  CAST(dims.nr * dims.nc AS BIGINT) AS n_cells
FROM cells CROSS JOIN dims
GROUP BY dims.nr, dims.nc
"""


@register(
    "agg_chi2_independence",
    oracle=_chi2_sql("duckdb").format(events="events"),
    doc="Chi-square independence test (event_type × weekday): exact "
    "observed counts, expected = row·col/N, statistic summed over the "
    "bounded contingency table — the categorical hypothesis test beside "
    "agg_t_test (REF-ANALOG statml).",
    tags=("agg", "stats"),
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_chi2_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# agg_bootstrap_poisson — Poisson bootstrap confidence interval for the
# mean order value: the SCALE form of the bootstrap (each row draws an
# independent Poisson(1) weight per replicate instead of being resampled
# with replacement — map-side, single pass, no data movement; the classic
# large-data formulation). Weights come from the deterministic LCG via the
# inverse Poisson(1) CDF (a CASE ladder over driver-computed cumulative
# constants), so every replicate is reproducible and bit-identical
# cross-engine. Replicate means use exact decimal sums; the CI is the
# 2nd/15th order statistic of the 16 replicate means (~87.5% interval).
# ---------------------------------------------------------------------------

_BOOT_R = 16


def _poisson_inv(u_expr: str) -> str:
    """Inverse Poisson(1) CDF as a CASE ladder (driver-exact constants)."""
    import math

    c = 0.0
    arms = []
    for k in range(9):
        c += math.exp(-1) / math.factorial(k)
        arms.append(f"WHEN {u_expr} < {synth.flit(c)} THEN {k}")
    return "CASE " + " ".join(arms) + " ELSE 9 END"


def _bootstrap_sql(dialect: str) -> str:
    del dialect  # shared text (series seam injected by caller)
    d = "CAST(o_totalprice AS DECIMAL(18,2))"
    u = synth.lcg_u("o_orderkey * 31 + rep.r", seed=99, draw=0)
    w = _poisson_inv(f"({u})")
    return f"""
WITH weighted AS (
  SELECT rep.r, {w} AS w, {d} AS x
  FROM {{orders}} CROSS JOIN __SERIES__ rep
),
means AS (
  SELECT r, CAST(sum(w * x) AS DOUBLE) / sum(w) AS m
  FROM weighted GROUP BY r HAVING sum(w) > 0
),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, r) AS rk,
    count(*) OVER () AS nr
  FROM means
),
full_mean AS (
  SELECT CAST(sum({d}) AS DOUBLE) / count(*) AS fm FROM {{orders}}
)
SELECT
  CAST(ranked.nr AS BIGINT) AS n_replicates,
  {synth.q6("full_mean.fm")} AS mean_full,
  {synth.q6("min(CASE WHEN rk = 2 THEN m END)")} AS ci_lo,
  {synth.q6("min(CASE WHEN rk = nr - 1 THEN m END)")} AS ci_hi
FROM ranked CROSS JOIN full_mean
GROUP BY ranked.nr, full_mean.fm
"""


def _bootstrap_for(dialect: str) -> str:
    return _bootstrap_sql(dialect).replace(
        "__SERIES__", synth.series_sql(_BOOT_R, "r", dialect)
    )


@register(
    "agg_bootstrap_poisson",
    oracle=_bootstrap_for("duckdb").format(orders="orders"),
    doc="Poisson bootstrap CI for the mean order value: per-(row, "
    "replicate) Poisson(1) weights from the deterministic LCG inverse-CDF "
    "ladder — the map-side single-pass bootstrap that scales (no "
    "resampling data movement); 16 replicate means (exact decimal sums), "
    "CI = 2nd/15th order statistics (REF-ANALOG statml).",
    tags=("agg", "stats", "sampling"),
)
def agg_bootstrap_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return spark.sql(_bootstrap_for("spark"), orders=orders)


# ---------------------------------------------------------------------------
# agg_anova_oneway — one-way ANOVA F-test: does mean order value differ
# across order priorities? Between/within sums of squares from EXACT
# decimal group moments (n, Σx, Σx² per priority — one grouped
# aggregation), then F = (SSB/(k−1)) / (SSW/(N−k)) as a single IEEE
# expression over identical doubles. Output carries only SCALE-INVARIANT
# statistics (F and η² — both O(1)); the raw mean squares sit at ~1e10
# where the q6 quantum is below group-sum reorder noise and cannot
# stabilize them. Completes the hypothesis-test trio (t-test: two groups;
# chi-square: categorical; ANOVA: k groups).
# ---------------------------------------------------------------------------


def _anova_sql(dialect: str) -> str:
    del dialect  # shared text
    d = "CAST(o_totalprice AS DECIMAL(18,2))"
    return f"""
WITH g AS (
  SELECT o_orderpriority,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(sum({d}) AS DOUBLE) AS sx,
    CAST(sum({d} * {d}) AS DOUBLE) AS sxx
  FROM {{orders}} GROUP BY o_orderpriority
),
tot AS (
  SELECT sum(n) AS nn, sum(sx) AS tsx, sum(sxx) AS tsxx, count(*) AS k
  FROM g
),
ss AS (
  SELECT tot.k, tot.nn,
    sum(g.sx * g.sx / g.n) - tot.tsx * tot.tsx / tot.nn AS ssb,
    tot.tsxx - sum(g.sx * g.sx / g.n) AS ssw
  FROM g CROSS JOIN tot
  GROUP BY tot.k, tot.nn, tot.tsx, tot.tsxx
)
SELECT CAST(k AS BIGINT) AS k_groups, CAST(nn AS BIGINT) AS n_rows,
  CASE WHEN k < 2 OR nn <= k OR ssb + ssw = 0e0 OR ssw = 0e0
       THEN CAST(NULL AS DOUBLE)
       ELSE {synth.q6("ssb / (ssb + ssw)")} END AS eta_sq,
  CASE WHEN k < 2 OR nn <= k OR ssw = 0e0 THEN CAST(NULL AS DOUBLE)
       ELSE {synth.q6("(ssb / (k - 1e0)) / (ssw / (nn - k))")} END AS f_stat
FROM ss
"""


@register(
    "agg_anova_oneway",
    oracle=_anova_sql("duckdb").format(orders="orders"),
    doc="One-way ANOVA F-test (order value across priorities) from exact "
    "decimal group moments: scale-invariant F statistic and eta-squared "
    "in one grouped aggregation + one scalar combine — the "
    "k-group member of the hypothesis-test trio (REF-ANALOG statml).",
    tags=("agg", "stats"),
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_anova_sql("spark"), orders=load_table(spark, sf_dir, "orders"))

# ---------------------------------------------------------------------------
# ml_knn_classify — k-nearest-neighbor classification with leave-one-out
# evaluation: every 50th vector is a held-out query, its top-5 cosine
# neighbors (self excluded) vote on the label, majority wins (ties break
# n_votes DESC then label ASC — deterministic), and the output is the
# confusion matrix plus overall accuracy. The eval harness every
# embedding-space pipeline runs after training: "does neighborhood
# structure predict the label?".
# Shares ns_ann_knn_join's machinery end-to-end: the checkpointed
# (vec_id, label, embedding, nrm) relation, one fixed-order dot fold per
# pair (bit-identical doubles), q6-quantized scores, (cosine DESC, vec_id)
# ranking. Votes/confusion counts are BIGINT; accuracy is one IEEE
# division of exact integers over the label² confusion summary (bounded
# OVER ()). Scale: the query batch broadcasts onto the corpus (map-side
# folds, one qid shuffle for ranking) — for unbounded query sets the IVF
# probe (ns_sim_ann_ivf) is the candidate-generation path, same vote tail.
# ---------------------------------------------------------------------------

_KNNC_MOD = 50
_KNNC_K = 5


def _knn_classify_sql(dialect: str, emb_ref: str | None = None) -> str:
    from ..functions.similarity import _dot_fold, _emb_norm_sql

    dot = _dot_fold(dialect, "c.embedding", "q.qemb")
    cos = synth.q6(f"{dot} / nullif(c.nrm * q.qnrm, 0e0)")
    acc = (
        "CAST(sum(CASE WHEN true_label = pred_label THEN n_queries "
        "ELSE CAST(0 AS BIGINT) END) OVER () AS DOUBLE) / "
        "CAST(sum(n_queries) OVER () AS DOUBLE)"
    )
    return f"""
WITH emb AS ({emb_ref or _emb_norm_sql(dialect)}),
q AS (
  SELECT vec_id AS qid, CAST(label AS BIGINT) AS true_label,
    embedding AS qemb, nrm AS qnrm
  FROM emb WHERE vec_id % {_KNNC_MOD} = 0
),
scored AS (
  SELECT q.qid, q.true_label, c.vec_id,
    CAST(c.label AS BIGINT) AS nlabel, {cos} AS cosine
  FROM emb c CROSS JOIN q
  WHERE c.vec_id <> q.qid
),
ranked AS (
  SELECT qid, true_label, nlabel,
    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
),
votes AS (
  SELECT qid, true_label, nlabel, CAST(count(*) AS BIGINT) AS n_votes
  FROM ranked WHERE rk <= {_KNNC_K}
  GROUP BY qid, true_label, nlabel
),
pred AS (
  SELECT qid, true_label, nlabel AS pred_label,
    row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, nlabel) AS vr
  FROM votes
),
conf AS (
  SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n_queries
  FROM pred WHERE vr = 1
  GROUP BY true_label, pred_label
)
SELECT true_label, pred_label, n_queries,
  {synth.q6(acc)} AS accuracy
FROM conf
ORDER BY true_label, pred_label
"""


@register(
    "ml_knn_classify",
    oracle=_knn_classify_sql("duckdb").format(embeddings="embeddings"),
    doc="kNN classification with leave-one-out eval: every 50th vector "
    "queries its top-5 cosine neighbors (shared checkpointed norm "
    "relation, fixed-order dot folds), majority vote with deterministic "
    "tie-break, confusion matrix + overall accuracy (exact-integer "
    "division over the bounded label-pair summary). Query batch "
    "broadcasts; IVF probe is the unbounded-query path (REF-ANALOG; the "
    "classification member of the ml family).",
    tags=("ml", "similarity", "agg"),
)
def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import _cached_emb_norm

    return spark.sql(
        _knn_classify_sql(
            "spark",
            emb_ref="SELECT vec_id, label, embedding, nrm FROM {emb}",
        ),
        emb=_cached_emb_norm(spark, sf_dir),
    )

# ---------------------------------------------------------------------------
# ml_decision_stump — distributed decision-tree node training (the PLANET /
# Spark-MLlib pattern): candidate splits are evaluated from a BOUNDED
# histogram, never from sorted raw data. One corpus pass builds the joint
# (value-bucket × hour) class histogram (16×24 cells, checkpointed — the
# marginal CTEs reference it twice and CTE inlining would re-run the events
# scan per reference); per-feature marginals, running prefix sums over the
# bucket summary, and the information gain of every boundary split are all
# summary-sized. Best split = argmax gain over ~38 candidates across BOTH
# features (threshold selection AND feature selection, like a real tree
# node). Label: event_type = 'purchase'; features: value (16 equi-width
# buckets over the saturated global extent, the dq_distribution_drift
# bucketing) and hour-of-day (TZ-free integer micros arithmetic).
# Determinism: all counts are BIGINT from exact prefix sums; entropy terms
# use n·H = n·ln n − Σ k·ln k with k·ln k guarded at k ≤ 0 (0·ln 0 = 0);
# gain is one fixed parse tree over exact integers (the PSI/perplexity ln
# precedent), q6-quantized on output; argmax ties break on (fid, bkt).
# Scale: histogram-based split finding is THE 100 TB tree-training shape —
# the shuffle carries 384 cells regardless of row count.
# ---------------------------------------------------------------------------

_STUMP_VB = 16


def _cached_stump_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 16×24 (value-bucket, hour) class histogram materialized once
    per (session, sf) — the single corpus pass shared by
    ml_decision_stump and ml_gbt_boost2 (r8)."""
    events = load_table(spark, sf_dir, "events")
    return checkpointed(
        spark, "stump_hist",
        lambda: spark.sql(_stump_hist_sql("spark"), events=events).coalesce(1),
        sf_dir,
    )


def _stump_hist_sql(dialect: str) -> str:
    us = "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"
    v6 = f"CAST(floor({synth.sat('value', 1e6)} * 1e6) AS BIGINT)"
    b = f"{_STUMP_VB}"
    # Integer division is a dialect seam: Spark spells it DIV, DuckDB //
    # (the ts_seasonal_decompose precedent).
    hr = (
        f"({us} % 86400000000) DIV 3600000000"
        if dialect == "spark"
        else f"({us} % 86400000000) // 3600000000"
    )
    return f"""
WITH ev AS (
  SELECT {v6} AS v6,
    {hr} AS hr,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM {{events}}
  WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
),
ext AS (SELECT min(v6) AS mn6, max(v6) AS mx6 FROM ev)
SELECT
  least(CAST(floor(CAST((v6 - mn6) * {b} AS DOUBLE)
    / CAST(mx6 - mn6 + 1 AS DOUBLE)) AS BIGINT), {_STUMP_VB - 1}) AS vbkt,
  hr,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(y) AS BIGINT) AS npos,
  max(mn6) AS mn6, max(mx6) AS mx6
FROM ev CROSS JOIN ext
GROUP BY 1, 2
"""


def _stump_plogp(k: str) -> str:
    return (
        f"CASE WHEN {k} <= 0 THEN 0e0 "
        f"ELSE CAST({k} AS DOUBLE) * ln(CAST({k} AS DOUBLE)) END"
    )


def _stump_nh(n: str, p: str) -> str:
    """n·H(class counts) in nats = n·ln n − p·ln p − (n−p)·ln(n−p)."""
    return (
        f"(({_stump_plogp(n)}) - ({_stump_plogp(p)}) "
        f"- ({_stump_plogp(f'{n} - {p}')}))"
    )


def _stump_sql(dialect: str, hist_ref: str | None = None) -> str:
    gain = (
        f"(({_stump_nh('nt', 'npost')}) - ({_stump_nh('nl', 'nposl')}) "
        f"- ({_stump_nh('nr', 'nposr')})) / CAST(nt AS DOUBLE)"
    )
    thr = (
        "CASE WHEN fid = 0 THEN (CAST(mn6 AS DOUBLE) "
        f"+ CAST((mx6 - mn6 + 1) * (bkt + 1) AS DOUBLE) / {_STUMP_VB}e0) / 1e6 "
        "ELSE CAST(bkt + 1 AS DOUBLE) END"
    )
    return f"""
WITH hist AS ({hist_ref or _stump_hist_sql(dialect)}),
marg AS (
  SELECT 0 AS fid, vbkt AS bkt, CAST(sum(n) AS BIGINT) AS n,
    CAST(sum(npos) AS BIGINT) AS npos, max(mn6) AS mn6, max(mx6) AS mx6
  FROM hist GROUP BY vbkt
  UNION ALL
  SELECT 1 AS fid, hr AS bkt, CAST(sum(n) AS BIGINT) AS n,
    CAST(sum(npos) AS BIGINT) AS npos, max(mn6) AS mn6, max(mx6) AS mx6
  FROM hist GROUP BY hr
),
cum AS (
  SELECT fid, bkt, mn6, mx6,
    CAST(sum(n) OVER (PARTITION BY fid ORDER BY bkt
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
    CAST(sum(npos) OVER (PARTITION BY fid ORDER BY bkt
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nposl,
    CAST(sum(n) OVER (PARTITION BY fid) AS BIGINT) AS nt,
    CAST(sum(npos) OVER (PARTITION BY fid) AS BIGINT) AS npost
  FROM marg
),
cand AS (
  SELECT fid, bkt, mn6, mx6, nl, nposl,
    nt - nl AS nr, npost - nposl AS nposr, nt, npost
  FROM cum WHERE nl > 0 AND nl < nt
)
SELECT fid,
  CASE WHEN fid = 0 THEN 'value' ELSE 'hour' END AS feature,
  bkt, {synth.q6(thr)} AS threshold,
  nl, nr, nposl, nposr,
  {synth.q6(gain)} AS gain,
  (2 * nposl > nl) AS pred_left,
  (2 * nposr > nr) AS pred_right,
  (row_number() OVER (ORDER BY {gain} DESC, fid, bkt) = 1) AS is_best
FROM cand
ORDER BY fid, bkt
"""


@register(
    "ml_decision_stump",
    oracle=_stump_sql("duckdb").format(events="events"),
    doc="Histogram-based decision-tree node training (the PLANET pattern): "
    "one events pass builds the checkpointed 16x24 (value-bucket, hour) "
    "class histogram; marginals, prefix sums, and information gain of "
    "every boundary split are summary-sized; best split = argmax gain "
    "across both features with deterministic tie-break; leaf majority "
    "predictions included. The shuffle carries 384 cells at any row count "
    "(REF-ANALOG; the tree-training member of the ml family).",
    tags=("ml", "agg", "stats"),
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _stump_sql(
            "spark",
            hist_ref="SELECT vbkt, hr, n, npos, mn6, mx6 FROM {hist}",
        ),
        hist=_cached_stump_hist(spark, sf_dir),
    )

# ---------------------------------------------------------------------------
# ml_lift_gains — model evaluation: the lift / gains table plus a bucketed
# ROC-AUC estimate for a propensity score against observed conversions
# (event_type = 'purchase'). The score is a fixed-literal-weight linear
# model over the stump's features (value micro-units + hour of day) kept
# ENTIRELY in BIGINT — integer weights on integer features — so bucketing
# by score is exact-integer arithmetic end to end (no float boundary can
# straddle). 16 equi-width score buckets over the global extent; per
# bucket: conversion rate, lift vs the base rate, cumulative capture
# (the gains curve, walked from the top score down); one trapezoidal
# AUC over the 16 cumulative (FPR, TPR) points, each term micro-quantized
# before the order-free BIGINT window sum. Everything after the single
# events pass is 16-row-summary-sized — the same shuffle posture as
# ml_decision_stump, completing train (stump) + apply (quality
# classifier) with EVALUATE.
# ---------------------------------------------------------------------------

_LIFT_B = 16


def _lift_gains_sql(dialect: str) -> str:
    us = "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"
    v6 = f"CAST(floor({synth.sat('value', 1e6)} * 1e6) AS BIGINT)"
    hr = (
        f"({us} % 86400000000) DIV 3600000000"
        if dialect == "spark"
        else f"({us} % 86400000000) // 3600000000"
    )
    b = f"{_LIFT_B}"
    # tpr/fpr of the "score >= bucket" rule, walked from the top bucket
    # down: cum counts come off the bkt DESC prefix frame.
    tpr = "CAST(cpos AS DOUBLE) / CAST(nullif(tpos, 0) AS DOUBLE)"
    fpr = "CAST(cn - cpos AS DOUBLE) / CAST(nullif(tn - tpos, 0) AS DOUBLE)"
    ptpr = "CAST(cpos - n_pos AS DOUBLE) / CAST(nullif(tpos, 0) AS DOUBLE)"
    pfpr = (
        "CAST((cn - n) - (cpos - n_pos) AS DOUBLE) "
        "/ CAST(nullif(tn - tpos, 0) AS DOUBLE)"
    )
    trap = f"(({fpr}) - ({pfpr})) * (({tpr}) + ({ptpr})) / 2e0"
    trap_u = f"CAST(floor(({trap}) * 1e6 + 0.5e0) AS BIGINT)"
    rate = "CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)"
    base = "CAST(tpos AS DOUBLE) / CAST(tn AS DOUBLE)"
    return f"""
WITH ev AS (
  SELECT 2 * {v6} + 40000000 * ({hr}) AS z_u,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM {{events}}
  WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
),
ext AS (SELECT min(z_u) AS mn, max(z_u) AS mx FROM ev),
hist AS (
  SELECT least(CAST(floor(CAST((z_u - mn) * {b} AS DOUBLE)
      / CAST(mx - mn + 1 AS DOUBLE)) AS BIGINT), {_LIFT_B - 1}) AS bkt,
    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos
  FROM ev CROSS JOIN ext
  GROUP BY 1
),
cum AS (
  SELECT bkt, n, n_pos,
    CAST(sum(n) OVER (ORDER BY bkt DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
    CAST(sum(n_pos) OVER (ORDER BY bkt DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cpos,
    CAST(sum(n) OVER () AS BIGINT) AS tn,
    CAST(sum(n_pos) OVER () AS BIGINT) AS tpos
  FROM hist
)
SELECT bkt, n, n_pos,
  {synth.q6(rate)} AS conv_rate,
  {synth.q6(f"({rate}) / nullif({base}, 0e0)")} AS lift,
  {synth.q6("CAST(cpos AS DOUBLE) / CAST(nullif(tpos, 0) AS DOUBLE)")}
    AS cum_capture,
  {synth.q6("CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE)")} AS cum_reach,
  {synth.q6(f"CAST(sum({trap_u}) OVER () AS DOUBLE) / 1e6")} AS auc
FROM cum
ORDER BY bkt DESC
"""


@register(
    "ml_lift_gains",
    oracle=_lift_gains_sql("duckdb").format(events="events"),
    doc="Model evaluation: lift/gains table + bucketed trapezoidal "
    "ROC-AUC for an all-BIGINT linear propensity score against observed "
    "purchases — 16 exact-integer score buckets, conversion rate, lift "
    "vs base, cumulative capture/reach from the top bucket down, AUC "
    "terms micro-quantized before the order-free window sum. One events "
    "pass, 16-row tail (REF-ANALOG; completes train/apply/EVALUATE with "
    "ml_decision_stump and ns_quality_classifier).",
    tags=("ml", "agg", "stats"),
)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_lift_gains_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# ml_gbt_boost2 — two rounds of least-squares gradient boosting (r8): the
# ensemble-training workload on top of the PLANET histogram — base score
# F0 = mean(y), then two boosting rounds, each fitting the best
# SSE-reducing stump to the CURRENT residuals with shrinkage ν = 1/2 and
# updating the model. Everything after the one corpus pass (the shared
# 16×24 stump histogram) is 384-cell-summary-sized.
# Exactness discipline: residual sums are carried as EXACT integer
# numerators over a common denominator — round 1 over nt (BIGINT:
# u = npos·nt − n·npost; the prefix sums that feed every split candidate
# are order-free integer sums, never a float window), round 2 over
# D = 2·nt·nl₁·nr₁ carried in DECIMAL(38,0) (≤ ~1e28 ≪ 1e38 at current
# scales; DECIMAL sums are exact in both engines, so the bucket prefix
# sums stay order-free where a DOUBLE window sum would hit DuckDB's
# segment-tree accumulation order).
# HARD CEILING (ADVICE r8): the round-2 numerator total scales as nt⁴
# (s2_num ~ npos·dd with dd = 2·nt·nl·nr ≤ nt³/2, summed over 384
# cells), so sum(s2_num) crosses DECIMAL(38,0) once nt approaches
# ~10^9.5; under non-ANSI Spark the overflowed sum silently becomes
# NULL and rounds 1-2 vanish from the output instead of erroring. The
# builder asserts nt ≤ _GBT_NT_CEILING (1e9) off the 384-row cached
# histogram before planning — beyond that, rescale the residual
# numerators to a reduced common denominator before raising the cap. Doubles appear only in fixed parse trees over
# those exact numerators (gain comparisons, leaf means, per-cell model
# scores), and the train-MSE terms are micro-quantized before their
# 384-cell sum. Ties in the argmax break on (fid, bkt). ν = 1/2 is
# folded into the denominators (power of two — exact).
# ---------------------------------------------------------------------------


# nt⁴ < 10^38 ⇔ nt < 10^9.5 ≈ 3.2e9; 1e9 leaves a >100× margin for the
# npos/f1_num constant factors in the per-cell numerators.
_GBT_NT_CEILING = 1_000_000_000


def _gbt_boost_sql(dialect: str, hist_ref: str | None = None) -> str:
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    q6 = synth.q6
    feat = "CASE WHEN fid = 0 THEN 'value' ELSE 'hour' END"
    # round-1 scaled gain: UL²·(1/nl + 1/nr) (true SSE reduction × nt²);
    # reported gain = per-row MSE reduction = that / nt³
    g1 = (
        "(CAST(ul AS DOUBLE) * CAST(ul AS DOUBLE)) "
        "* (1e0 / CAST(nl AS DOUBLE) + 1e0 / CAST(nr AS DOUBLE))"
    )
    mse_term = (
        "CAST(floor((CAST(npos AS DOUBLE) * (1e0 - {f}) * (1e0 - {f}) "
        "+ CAST(n - npos AS DOUBLE) * {f} * {f}) * 1e6 + 0.5e0) AS BIGINT)"
    )
    return f"""
WITH hist AS {mat}({hist_ref or _stump_hist_sql(dialect)}),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(npos) AS BIGINT) AS npost
  FROM hist
),
marg1 AS (
  SELECT fid, bkt, CAST(sum(n) AS BIGINT) AS n,
    CAST(sum(npos) AS BIGINT) AS npos
  FROM (
    SELECT 0 AS fid, vbkt AS bkt, n, npos FROM hist
    UNION ALL
    SELECT 1 AS fid, hr AS bkt, n, npos FROM hist
  ) m GROUP BY fid, bkt
),
cum1 AS (
  SELECT m.fid, m.bkt,
    CAST(sum(m.n) OVER w AS BIGINT) AS nl,
    CAST(sum(m.npos) OVER w AS BIGINT) AS nposl,
    t.nt, t.npost
  FROM marg1 m CROSS JOIN tot t
  WINDOW w AS (PARTITION BY m.fid ORDER BY m.bkt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
b1 AS (
  SELECT fid, bkt, nl, nr, ul, nt, npost, gain1
  FROM (
    SELECT c.*, row_number() OVER (ORDER BY gain1 DESC, fid, bkt) AS rn
    FROM (
      SELECT fid, bkt, nl, nt - nl AS nr,
        nposl * nt - nl * npost AS ul, nt, npost,
        (CAST(nposl * nt - nl * npost AS DOUBLE)
         * CAST(nposl * nt - nl * npost AS DOUBLE))
        * (1e0 / CAST(nl AS DOUBLE) + 1e0 / CAST(nt - nl AS DOUBLE))
          AS gain1
      FROM cum1 WHERE nl > 0 AND nl < nt
    ) c
  ) z WHERE rn = 1
),
d2 AS (
  SELECT b.*,
    CAST(2 AS DECIMAL(38, 0)) * b.nt * b.nl * b.nr AS dd,
    (CAST(2 AS DECIMAL(38, 0)) * b.npost * b.nl + b.ul) * b.nr AS f1l_num,
    (CAST(2 AS DECIMAL(38, 0)) * b.npost * b.nr - b.ul) * b.nl AS f1r_num
  FROM b1 b
),
s2c AS (
  SELECT h.vbkt, h.hr, h.n, h.npos, d.dd, d.nt, d.npost,
    d.fid AS fid1, d.bkt AS bkt1,
    CASE WHEN (d.fid = 0 AND h.vbkt <= d.bkt)
           OR (d.fid = 1 AND h.hr <= d.bkt)
         THEN d.f1l_num ELSE d.f1r_num END AS f1_num
  FROM hist h CROSS JOIN d2 d
),
s2n AS (
  SELECT vbkt, hr, n, npos, dd, nt, f1_num,
    CAST(npos AS DECIMAL(38, 0)) * dd
      - CAST(n AS DECIMAL(38, 0)) * f1_num AS s2_num
  FROM s2c
),
tot2 AS (SELECT sum(s2_num) AS st2 FROM s2n),
marg2 AS (
  SELECT fid, bkt, CAST(sum(n) AS BIGINT) AS n, sum(s2_num) AS s2
  FROM (
    SELECT 0 AS fid, vbkt AS bkt, n, s2_num FROM s2n
    UNION ALL
    SELECT 1 AS fid, hr AS bkt, n, s2_num FROM s2n
  ) m GROUP BY fid, bkt
),
cum2 AS (
  SELECT m.fid, m.bkt,
    CAST(sum(m.n) OVER w AS BIGINT) AS nl,
    sum(m.s2) OVER w AS s2l,
    t2.st2, d.dd, d.nt
  FROM marg2 m CROSS JOIN tot2 t2 CROSS JOIN d2 d
  WINDOW w AS (PARTITION BY m.fid ORDER BY m.bkt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
b2 AS (
  SELECT fid, bkt, nl, nr, sl, sr, gain2,
    sl / CAST(nl AS DOUBLE) AS g2l, sr / CAST(nr AS DOUBLE) AS g2r
  FROM (
    SELECT c.*, row_number() OVER (ORDER BY gain2 DESC, fid, bkt) AS rn
    FROM (
      SELECT fid, bkt, nl, nt - nl AS nr,
        CAST(s2l AS DOUBLE) / CAST(dd AS DOUBLE) AS sl,
        CAST(st2 - s2l AS DOUBLE) / CAST(dd AS DOUBLE) AS sr,
        (CAST(s2l AS DOUBLE) / CAST(dd AS DOUBLE))
          * (CAST(s2l AS DOUBLE) / CAST(dd AS DOUBLE))
          / CAST(nl AS DOUBLE)
        + (CAST(st2 - s2l AS DOUBLE) / CAST(dd AS DOUBLE))
          * (CAST(st2 - s2l AS DOUBLE) / CAST(dd AS DOUBLE))
          / CAST(nt - nl AS DOUBLE) AS gain2
      FROM cum2 WHERE nl > 0 AND nl < nt
    ) c
  ) z WHERE rn = 1
),
msec AS (
  SELECT s.n, s.npos,
    CAST(s.npost AS DOUBLE) / CAST(s.nt AS DOUBLE) AS f0d,
    CAST(s.f1_num AS DOUBLE) / CAST(s.dd AS DOUBLE) AS f1d,
    CAST(s.f1_num AS DOUBLE) / CAST(s.dd AS DOUBLE)
      + 0.5e0 * (CASE WHEN (b.fid = 0 AND s.vbkt <= b.bkt)
                        OR (b.fid = 1 AND s.hr <= b.bkt)
                      THEN b.g2l ELSE b.g2r END) AS f2d
  FROM s2c s CROSS JOIN b2 b
),
mse AS (
  SELECT
    CAST(sum({mse_term.format(f="f0d")}) AS BIGINT) AS m0u,
    CAST(sum({mse_term.format(f="f1d")}) AS BIGINT) AS m1u,
    CAST(sum({mse_term.format(f="f2d")}) AS BIGINT) AS m2u
  FROM msec
),
mse0 AS (
  SELECT CAST(sum(CAST(floor((CAST(npos AS DOUBLE)
      * (1e0 - CAST(t.npost AS DOUBLE) / CAST(t.nt AS DOUBLE))
      * (1e0 - CAST(t.npost AS DOUBLE) / CAST(t.nt AS DOUBLE))
    + CAST(n - npos AS DOUBLE)
      * (CAST(t.npost AS DOUBLE) / CAST(t.nt AS DOUBLE))
      * (CAST(t.npost AS DOUBLE) / CAST(t.nt AS DOUBLE))) * 1e6 + 0.5e0)
    AS BIGINT)) AS BIGINT) AS m0u, max(t.nt) AS nt
  FROM hist CROSS JOIN tot t
  WHERE t.nt > 0
  GROUP BY t.nt
)
SELECT 0 AS round, 'baseline' AS feature, CAST(NULL AS BIGINT) AS split_bkt,
  CAST(NULL AS DOUBLE) AS gain,
  CAST(NULL AS DOUBLE) AS gamma_l, CAST(NULL AS DOUBLE) AS gamma_r,
  {q6("CAST(m0u AS DOUBLE) / 1e6 / CAST(nt AS DOUBLE)")} AS mse
FROM mse0
UNION ALL
SELECT 1, {feat}, CAST(bkt AS BIGINT),
  {q6("gain1 / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE))")},
  {q6("CAST(ul AS DOUBLE) / (CAST(nt AS DOUBLE) * CAST(nl AS DOUBLE))")},
  {q6("-CAST(ul AS DOUBLE) / (CAST(nt AS DOUBLE) * CAST(nr AS DOUBLE))")},
  {q6("CAST(m.m1u AS DOUBLE) / 1e6 / CAST(b1.nt AS DOUBLE)")}
FROM b1 CROSS JOIN mse m
UNION ALL
SELECT 2, {feat}, CAST(b2.bkt AS BIGINT),
  {q6("b2.gain2 / CAST(t.nt AS DOUBLE)")},
  {q6("b2.g2l")}, {q6("b2.g2r")},
  {q6("CAST(m.m2u AS DOUBLE) / 1e6 / CAST(t.nt AS DOUBLE)")}
FROM b2 CROSS JOIN mse m CROSS JOIN tot t
ORDER BY round
"""


@register(
    "ml_gbt_boost2",
    oracle=_gbt_boost_sql("duckdb").format(events="events"),
    doc="Two rounds of least-squares gradient boosting (shrinkage 1/2) on "
    "the shared PLANET stump histogram: base score = mean(y), each round "
    "fits the best SSE-reducing stump to the CURRENT residuals — round-1 "
    "residual sums as exact BIGINT numerators over nt, round-2 over "
    "2·nt·nl·nr in DECIMAL(38,0) (order-free exact prefix sums; doubles "
    "only in fixed parse trees for gains/leaf means), train MSE per round "
    "micro-quantized. One corpus pass; every boosting computation is "
    "384-cell-summary-sized (REF-ANALOG; the ensemble-training member of "
    "the ml family beside the stump/logreg/ALS).",
    tags=("ml", "iterative", "agg"),
)
def ml_gbt_boost2(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = _cached_stump_hist(spark, sf_dir)
    # Overflow guard (ADVICE r8): sum(s2_num) ~ nt⁴ crosses
    # DECIMAL(38,0) near nt ≈ 10^9.5 and non-ANSI Spark would NULL it
    # silently. The check reads the 384-row cached histogram summary,
    # not the corpus.
    nt = spark.sql("SELECT sum(n) AS nt FROM {hist}", hist=hist).collect()[0][0]
    if nt is not None and int(nt) > _GBT_NT_CEILING:
        raise ValueError(
            f"ml_gbt_boost2: event count {nt} exceeds the DECIMAL(38,0) "
            f"round-2 numerator ceiling ({_GBT_NT_CEILING}); rescale the "
            "residual numerators to a reduced common denominator before "
            "raising this cap"
        )
    return spark.sql(
        _gbt_boost_sql(
            "spark",
            hist_ref="SELECT vbkt, hr, n, npos, mn6, mx6 FROM {hist}",
        ),
        hist=hist,
    )
