"""Event-analytics operators over `events` (REF-ANALOG; the daily queries of
an event-analytics user: sessionization, funnel conversion, cohort
retention).

All three share one dialect seam — microsecond epoch extraction
(`unix_micros` on Spark after io.py's nanos→micros conversion, `epoch_us`
in DuckDB, which truncates parquet ns timestamps identically) — and are
pure integer arithmetic from there, so the oracles are bit-exact.

Scale notes (100 TB): every plan shuffles on user_id exactly once (window
partition or group-by); stage joins in the funnel are per-user min-ts
relations, orders of magnitude smaller than the event stream; the cohort
grid is (days × offsets)-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..common import checkpointed
from ..io import load_table
from ..registry import register

_GAP_US = 5 * 60 * 1_000_000  # same 5-minute gap as stream_session_window


def _us(dialect: str) -> str:
    return "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"


# ---------------------------------------------------------------------------
# win_sessionize_gaps — BATCH sessionization via the gaps-and-islands window
# pattern: lag() marks session starts, a running sum numbers sessions. The
# second physical strategy for the session semantic (stream_session_window
# uses Spark-native session_window()); both produce identical sessions —
# the same plan-strategy pairing as pip-join vs scanline rasterization.
# ---------------------------------------------------------------------------


def _sessionize_sql(dialect: str) -> str:
    # Exact-gap boundary, LIVE-CALIBRATED r10 (ADVICE r9 claimed the
    # opposite): Spark's session_window() MERGES two events exactly gap
    # apart — in BOTH batch and streaming (state-store) execution the
    # ranges [t, t+gap) and [t+gap, t+2gap) coalesce into one session
    # [t, t+2gap). The gaps-and-islands predicate must therefore start a
    # new session only when diff is STRICTLY greater than the gap, or the
    # three session keys (this one, stream_session_window,
    # stream_session_window_native) disagree on exact-gap pairs. Pinned
    # by tests/test_plans.py::test_sessionize_exact_gap_pair_merges and
    # the u5 pair in test_session_window_native_merge_and_boundary.
    us = _us(dialect)
    return f"""
WITH ordered AS (
  SELECT user_id, event_id, {us} AS us,
    lag({us}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM {{events}}
),
marked AS (
  SELECT user_id, event_id, us,
    CASE WHEN prev_us IS NULL OR us - prev_us > {_GAP_US} THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
sessions AS (
  SELECT user_id, us,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id, min(us) AS session_start_us, max(us) + {_GAP_US} AS session_end_us,
  COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, sid
ORDER BY user_id, session_start_us
"""


@register(
    "win_sessionize_gaps",
    oracle=_sessionize_sql("duckdb").format(events="events"),
    doc="Batch sessionization (5-min gap) via gaps-and-islands windows: "
    "lag() marks starts, running sum numbers sessions — one shuffle on "
    "user_id; the window-function strategy for the same semantic as "
    "stream_session_window's session_window() (REF-ANALOG).",
    tags=("window", "analytics"),
)
def win_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_sessionize_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# win_funnel_conversion — ordered-stage funnel: first 'view', then first
# 'click' strictly after it, then first 'purchase' strictly after that.
# Stage relations shrink to one row per qualifying user before each join.
# ---------------------------------------------------------------------------


def _funnel_stage_sql(dialect: str, stage: str, prev_ref: str | None) -> str:
    """One funnel stage: per-user first occurrence of `stage`, strictly
    after the previous stage's time when given. Each stage is a single
    predicate-pruned pass over events; the Spark builder materializes
    every stage so the chain and the final counts never re-derive one
    (Spark CTE inlining re-ran v/c/p per reference: 6 scans measured)."""
    us = _us(dialect)
    ev = f"SELECT user_id, event_type, {us} AS us FROM {{events}}"
    if prev_ref is None:
        return (
            f"SELECT user_id, min(us) AS t FROM ({ev}) ev "
            f"WHERE event_type = '{stage}' GROUP BY user_id"
        )
    return f"""
SELECT ev.user_id, min(ev.us) AS t
FROM ({ev}) ev JOIN ({prev_ref}) pv
  ON ev.user_id = pv.user_id AND ev.us > pv.t
WHERE ev.event_type = '{stage}' GROUP BY ev.user_id
"""


def _funnel_sql(
    dialect: str,
    v_ref: str | None = None,
    c_ref: str | None = None,
    p_ref: str | None = None,
) -> str:
    v = v_ref or _funnel_stage_sql(dialect, "view", None)
    c = c_ref or _funnel_stage_sql(dialect, "click", v)
    p = p_ref or _funnel_stage_sql(dialect, "purchase", c)
    return f"""
WITH v AS ({v}), c AS ({c}), p AS ({p})
SELECT stage, n_users FROM (
  SELECT '1_view' AS stage, count(*) AS n_users FROM v
  UNION ALL SELECT '2_click', count(*) FROM c
  UNION ALL SELECT '3_purchase', count(*) FROM p
) s ORDER BY stage
"""


@register(
    "win_funnel_conversion",
    oracle=_funnel_sql("duckdb").format(events="events"),
    doc="Ordered-stage funnel (view -> click -> purchase, strict ts order): "
    "per-user first-occurrence chaining; each stage join touches only the "
    "one-row-per-user stage relation, never the raw stream twice "
    "(REF-ANALOG).",
    tags=("window", "analytics"),
)
def win_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    rels, refs = {}, {}
    prev = None
    for name, stage in (("v", "view"), ("c", "click"), ("p", "purchase")):
        sql = _funnel_stage_sql("spark", stage, prev)
        rels[name] = checkpointed(
            spark, f"funnel_{name}",
            lambda q=sql, bound=dict(rels): spark.sql(
                q, events=events, **bound
            ).coalesce(4),
            sf_dir,
        )
        refs[name] = prev = f"SELECT user_id, t FROM {{{name}}}"
    return spark.sql(_funnel_sql("spark", refs["v"], refs["c"], refs["p"]), **rels)


# ---------------------------------------------------------------------------
# agg_cohort_retention — classic cohort grid: cohort = user's first active
# day, cell = distinct users active at each day offset (0..7).
# ---------------------------------------------------------------------------

_US_PER_DAY = "86400000000e0"


def _cohort_sql(dialect: str) -> str:
    us = _us(dialect)
    day = f"CAST(floor({us} / {_US_PER_DAY}) AS BIGINT)"
    return f"""
WITH ev AS (SELECT user_id, {day} AS day FROM {{events}}),
firsts AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id),
act AS (
  SELECT DISTINCT e.user_id, f.cohort, e.day - f.cohort AS day_off
  FROM ev e JOIN firsts f ON e.user_id = f.user_id
  WHERE e.day - f.cohort <= 7
)
SELECT cohort AS cohort_day, day_off, count(*) AS n_users
FROM act
GROUP BY cohort, day_off
ORDER BY cohort_day, day_off
"""


@register(
    "agg_cohort_retention",
    oracle=_cohort_sql("duckdb").format(events="events"),
    doc="Cohort retention grid: cohort = first active epoch-day per user, "
    "cells = distinct active users per (cohort, day offset 0..7). Two "
    "user_id-keyed aggregations + one broadcastable first-day join "
    "(REF-ANALOG).",
    tags=("agg", "analytics"),
)
def agg_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_cohort_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# join_interval_bucketed — temporal interval-overlap join, the bucketed way:
# naive overlap is a non-equi theta join (O(n²) nested loop at scale);
# instead each session explodes to the 1-hour time buckets it covers, and
# candidate pairs come from an EQUI-join on bucket — then the exact overlap
# predicate verifies each candidate once (DISTINCT pair first, so a pair
# sharing many buckets verifies once). The standard time-bucket pattern for
# interval joins at 100 TB: shuffle key is (bucket), bounded by wall time.
# Sessions reuse the gaps-and-islands relation (one definition).
# ---------------------------------------------------------------------------

_BUCKET_US = 3_600_000_000  # 1-hour buckets


def _interval_overlap_sql(dialect: str) -> str:
    if dialect == "spark":
        buckets = (
            "SELECT user_id, session_start_us AS s, session_end_us AS e, "
            "explode(sequence(CAST(floor(session_start_us / {b}e0) AS BIGINT), "
            "CAST(floor(session_end_us / {b}e0) AS BIGINT))) AS bucket "
            "FROM sessions"
        ).format(b=_BUCKET_US)
    else:
        buckets = (
            "SELECT user_id, s, e, unnest(generate_series("
            "CAST(floor(s / {b}e0) AS BIGINT), "
            "CAST(floor(e / {b}e0) AS BIGINT))) AS bucket "
            "FROM (SELECT user_id, session_start_us AS s, session_end_us AS e "
            "FROM sessions) s0"
        ).format(b=_BUCKET_US)
    return f"""
WITH sessions AS ({_sessionize_sql(dialect)}),
buckets AS ({buckets}),
cand AS (
  SELECT DISTINCT a.user_id AS ua, a.s AS sa, a.e AS ea,
    b.user_id AS ub, b.s AS sb, b.e AS eb
  FROM buckets a JOIN buckets b
    ON a.bucket = b.bucket AND a.user_id < b.user_id
),
verified AS (
  SELECT ua, ub
  FROM cand WHERE sa <= eb AND sb <= ea
)
SELECT ua, ub, count(*) AS n_overlaps
FROM verified GROUP BY ua, ub
ORDER BY n_overlaps DESC, ua, ub
LIMIT 20
"""


@register(
    "join_interval_bucketed",
    oracle=_interval_overlap_sql("duckdb").format(events="events"),
    doc="Interval-overlap join (sessions of different users overlapping in "
    "time) via 1-hour time-bucket equi-join + DISTINCT candidate + exact "
    "overlap verify — the bucketed temporal-join pattern that replaces the "
    "O(n²) non-equi theta join at scale (REF-ANALOG).",
    tags=("join", "analytics", "scale"),
)
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_interval_overlap_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# win_event_pattern_cep — MATCH_RECOGNIZE-style complex event processing,
# the operator class Spark lacks natively, expressed relationally. Two
# pattern shapes per user stream (ordered by ts, event_id — the
# deterministic tiebreak):
#   P1 strict sequence with a time bound — view → click → purchase on
#      THREE CONSECUTIVE events with the purchase ≤ 30 min after the view
#      (MATCH_RECOGNIZE "A B C" with strict contiguity + WITHIN clause):
#      two lead() columns on one window spec, a pure row-local predicate.
#   P2 Kleene run — maximal bursts of ≥ 2 consecutive 'error' events
#      (MATCH_RECOGNIZE "E{2,}"): the gaps-and-islands rank-difference,
#      grouped per (user, island).
# Both windows share ONE partition spec (user_id, ordered ts), so the
# whole key costs a single shuffle of the event stream; pattern predicates
# are map-side over the sorted runs. This differs from
# win_funnel_conversion (stage-ANY-order-later funnel over per-user min-ts
# relations): CEP is about CONTIGUITY and time-boxing.
# ---------------------------------------------------------------------------

_CEP_WITHIN_MIN = 30


def _event_pattern_sql(dialect: str) -> str:
    if dialect == "spark":
        # SINGLE-PASS form: one scan, one stream shuffle. Every pattern
        # signal is a window function on the SAME spec (user_id; ts,
        # event_id) — Spark stacks the Window nodes on one Exchange+Sort —
        # and the per-user aggregation reuses that hashpartitioning, so no
        # second stream shuffle. Burst lengths come from next-non-error
        # distance (min-over-following on the shared spec), burst COUNT
        # from row-local start detection (lag ≠ error, lead = error) —
        # no (user, island) re-shuffle, no CTE re-inlining (the naive
        # two-consumer form measured 3 scans / 3 user_id shuffles).
        return f"""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
    lead(event_type, 1) OVER w AS t1,
    lead(event_type, 2) OVER w AS t2,
    lead(ts, 2) OVER w AS ts2,
    lag(event_type, 1) OVER w AS p1,
    row_number() OVER w AS rn
  FROM {{events}}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seq2 AS (
  SELECT user_id, ts, event_type, t1, t2, ts2, p1, rn,
    -- suffix-min as a RUNNING min over the REVERSE sort: Spark evaluates
    -- an UNBOUNDED PRECEDING frame incrementally (O(n) per partition),
    -- but a CURRENT ROW..UNBOUNDED FOLLOWING frame by recomputing the
    -- whole remaining frame per row — O(n²), measured 308× wall under a
    -- hot user holding 10% of events (r7 skew ladder). Same partition
    -- key, so the reverse window rides the SAME exchange (one extra
    -- in-partition sort, no second shuffle).
    min(CASE WHEN event_type <> 'error' THEN rn END) OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_nonerr,
    count(*) OVER (PARTITION BY user_id) AS n_events
  FROM seq
),
flagged AS (
  SELECT user_id,
    CASE WHEN event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
      AND ts2 <= ts + INTERVAL {_CEP_WITHIN_MIN} MINUTE
      THEN 1 ELSE 0 END AS is_conv,
    CASE WHEN event_type = 'error' AND (p1 IS NULL OR p1 <> 'error')
      AND t1 = 'error' THEN 1 ELSE 0 END AS is_burst_start,
    CASE WHEN event_type = 'error' AND (p1 IS NULL OR p1 <> 'error')
      AND t1 = 'error'
      THEN coalesce(next_nonerr, n_events + 1) - rn ELSE 0 END AS burst_len
  FROM seq2
)
SELECT user_id,
  CAST(sum(is_conv) AS BIGINT) AS n_strict_conversions,
  CAST(sum(is_burst_start) AS BIGINT) AS n_error_bursts,
  CAST(max(burst_len) AS BIGINT) AS longest_burst
FROM flagged
GROUP BY user_id
HAVING sum(is_conv) + sum(is_burst_start) > 0
ORDER BY user_id
"""
    # Oracle: an INDEPENDENT formulation — classic rank-difference
    # gaps-and-islands with (user, island) grouping (DuckDB materializes
    # CTEs, so the multi-reference is free there). Two different
    # derivations agreeing on every value is a stronger check than shared
    # text.
    return f"""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
    lead(event_type, 1) OVER w AS t1,
    lead(event_type, 2) OVER w AS t2,
    lead(ts, 2) OVER w AS ts2,
    row_number() OVER w AS rn
  FROM {{events}}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
conv AS (
  SELECT user_id, count(*) AS n_strict_conversions
  FROM seq
  WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
    AND ts2 <= ts + INTERVAL {_CEP_WITHIN_MIN} MINUTE
  GROUP BY user_id
),
err AS (
  SELECT user_id, rn - row_number() OVER (
    PARTITION BY user_id ORDER BY ts, event_id) AS island
  FROM seq WHERE event_type = 'error'
),
bursts AS (
  SELECT user_id, count(*) AS burst_len
  FROM err GROUP BY user_id, island
  HAVING count(*) >= 2
),
burst_agg AS (
  SELECT user_id, count(*) AS n_error_bursts,
    max(burst_len) AS longest_burst
  FROM bursts GROUP BY user_id
)
SELECT u.user_id,
  CAST(coalesce(c.n_strict_conversions, 0) AS BIGINT) AS n_strict_conversions,
  CAST(coalesce(b.n_error_bursts, 0) AS BIGINT) AS n_error_bursts,
  CAST(coalesce(b.longest_burst, 0) AS BIGINT) AS longest_burst
FROM (SELECT DISTINCT user_id FROM {{events}}) u
LEFT JOIN conv c ON u.user_id = c.user_id
LEFT JOIN burst_agg b ON u.user_id = b.user_id
WHERE c.user_id IS NOT NULL OR b.user_id IS NOT NULL
ORDER BY u.user_id
"""


@register(
    "win_event_pattern_cep",
    oracle=_event_pattern_sql("duckdb").format(events="events"),
    doc="MATCH_RECOGNIZE-style CEP expressed relationally: strict-"
    "contiguity time-boxed sequence (view→click→purchase on consecutive "
    "events within 30 min; lead()×2) and Kleene error bursts (≥2 "
    "consecutive, rank-difference islands) — both pattern families on ONE "
    "shared (user_id, ts) window spec, so the key costs a single shuffle "
    "of the stream (REF-ANALOG; the contiguity complement of "
    "win_funnel_conversion's any-order funnel).",
    tags=("window", "analytics", "cep"),
)
def win_event_pattern_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_event_pattern_sql("spark"), events=events)

# ---------------------------------------------------------------------------
# win_attribution — marketing attribution over the event stream: every
# purchase is credited to the user's most recent prior click within a
# 7-day lookback (last-touch) and tagged with the age of the user's first
# touch (first click/view ever). The classic "which touchpoint gets the
# revenue" report, built from two incremental prefix frames on the ONE
# (user_id, us) ordered window — last_value IGNORE NULLS for the latest
# prior click (the O(n) frame class, never a suffix frame) and a running
# min for the first touch. Purchases with no in-window click fall into
# the day = -1 (unattributed) bucket — dropping them is the classic
# attribution-inflation bug.
# Determinism: pure integer micros arithmetic end-to-end; revenue is a
# saturating BIGINT micro-unit sum (order-free); the one division (mean
# first-touch age) is a fixed parse tree over exact integers.
# Scale: one user_id shuffle for the windows, then a 9-row groupBy —
# identical posture to sessionize/funnel/cohort above.
# ---------------------------------------------------------------------------

_ATTR_LOOKBACK_US = 7 * 86_400_000_000  # 7-day last-touch window


def _attribution_sql(dialect: str) -> str:
    from .. import synth
    from .statml import _ignore_nulls

    us = _us(dialect)
    prefix = (
        "PARTITION BY user_id ORDER BY us, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    )
    last_click = _ignore_nulls(
        dialect,
        "last_value",
        "CASE WHEN event_type = 'click' THEN us END",
        prefix,
    )
    first_touch = (
        "min(CASE WHEN event_type = 'click' OR event_type = 'view' "
        f"THEN us END) OVER ({prefix})"
    )
    day = (
        "(us - last_click_us) DIV 86400000000"
        if dialect == "spark"
        else "(us - last_click_us) // 86400000000"
    )
    age_day = (
        "(us - first_touch_us) DIV 86400000000"
        if dialect == "spark"
        else "(us - first_touch_us) // 86400000000"
    )
    return f"""
WITH ev AS (
  SELECT user_id, event_id, {us} AS us, event_type, value
  FROM {{events}}
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
),
ctx AS (
  SELECT user_id, event_id, us, event_type, value,
    {last_click} AS last_click_us,
    {first_touch} AS first_touch_us
  FROM ev
),
pur AS (
  SELECT user_id, us, value,
    CASE WHEN last_click_us IS NOT NULL
              AND us - last_click_us <= {_ATTR_LOOKBACK_US}
         THEN {day} ELSE -1 END AS touch_day,
    CASE WHEN first_touch_us IS NOT NULL THEN {age_day} END AS ft_age_day
  FROM ctx
  WHERE event_type = 'purchase'
)
SELECT touch_day,
  CAST(count(*) AS BIGINT) AS n_purchases,
  {synth.sum_micro('value')} AS revenue,
  CAST(sum(CASE WHEN ft_age_day IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_with_first_touch,
  {synth.q6(
      "CAST(coalesce(sum(ft_age_day), 0) AS DOUBLE) / "
      "CAST(nullif(sum(CASE WHEN ft_age_day IS NOT NULL THEN 1 ELSE 0 END),"
      " 0) AS DOUBLE)"
  )} AS mean_first_touch_age_days
FROM pur
GROUP BY touch_day
ORDER BY touch_day
"""


@register(
    "win_attribution",
    oracle=_attribution_sql("duckdb").format(events="events"),
    doc="Marketing attribution: purchases credited to the latest prior "
    "click within a 7-day lookback (last_value IGNORE NULLS prefix "
    "frame — incremental, never a suffix frame) + first-touch age "
    "(running min), unattributed bucket kept; per-gap-day purchase "
    "counts, micro-exact revenue, mean first-touch age. One user_id "
    "shuffle then a 9-row groupBy (REF-ANALOG; completes the "
    "sessionize/funnel/cohort event-analytics suite).",
    tags=("window", "agg", "events"),
)
def win_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_attribution_sql("spark"), events=events)

# ---------------------------------------------------------------------------
# win_markov_transitions — the user-journey transition matrix: P(next
# event type | current type) from adjacent event pairs per user (lead()
# on the one (user_id, us) window), aggregated corpus-wide into the
# |types|² matrix with exact-count probabilities. The descriptive
# complement of win_event_pattern_cep: CEP finds ONE fixed pattern, this
# reports where every journey actually goes next.
# One user shuffle for the window, then a ≤ 25-row groupBy; the
# probability and the per-row total are exact-integer divisions.
# ---------------------------------------------------------------------------


def _markov_sql(dialect: str) -> str:
    from .. import synth

    us = _us(dialect)
    return f"""
WITH ev AS (
  SELECT user_id, event_id, {us} AS us, event_type
  FROM {{events}}
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
),
pairs AS (
  SELECT event_type AS t_from,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
      AS t_to
  FROM ev
),
trans AS (
  SELECT t_from, t_to, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE t_to IS NOT NULL
  GROUP BY t_from, t_to
)
SELECT t_from, t_to, n,
  CAST(sum(n) OVER (PARTITION BY t_from) AS BIGINT) AS n_from,
  {synth.q6(
      "CAST(n AS DOUBLE) / "
      "CAST(sum(n) OVER (PARTITION BY t_from) AS DOUBLE)"
  )} AS p,
  (row_number() OVER (PARTITION BY t_from ORDER BY n DESC, t_to) = 1)
    AS is_top_target
FROM trans
ORDER BY t_from, t_to
"""


@register(
    "win_markov_transitions",
    oracle=_markov_sql("duckdb").format(events="events"),
    doc="User-journey transition matrix: adjacent event-type pairs per "
    "user (lead on the one user window) aggregated into the |types|^2 "
    "matrix — exact counts, exact-integer row-conditional probabilities, "
    "top-target flag. One user shuffle, 25-row tail (REF-ANALOG; the "
    "descriptive complement of the CEP pattern matcher).",
    tags=("window", "agg", "events"),
)
def win_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_markov_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# win_survival_km — Kaplan-Meier survival estimate of user lifetime: per
# user, lifetime = days between first and last event; a user whose last
# event sits more than 12 hours before the global high-water mark is a
# CHURN event at that lifetime, later users are right-censored (the
# standard churn-analysis setup; the 12 h horizon is calibrated to the
# synthetic stream's per-user cadence so BOTH branches — churned and
# censored — carry real mass at every sf, the ns_quality_classifier
# genuinely-discriminating standard; in production this constant is the
# product's churn definition). The KM curve over the calendar-bounded
# lifetime summary: at-risk counts from a reverse-sorted running sum
# (suffix totals as incremental PRECEDING frames — the house rule, never
# a re-aggregated suffix), hazard d/r per day, and the survival product
# Π(1 − d/r) carried as a PREFIX SUM of per-day micro-quantized ln terms
# in BIGINT (order-free), exponentiated once. A day where everyone at
# risk churns sends survival to exactly 0 via an explicit CASE (ln(0) is
# never evaluated). Two inherent events passes (global max + per-user
# aggregate, the freshness posture); everything after the user groupBy
# is lifetime-summary-sized.
# ---------------------------------------------------------------------------

_KM_CHURN_GAP_US = 12 * 3_600_000_000


def _survival_sql(dialect: str) -> str:
    from .. import synth

    us = _us(dialect)
    day = "DIV" if dialect == "spark" else "//"
    # Zero-hazard days contribute ln(1) = 0 exactly; the all-churn day is
    # excluded from the ln (survival forced to 0 downstream).
    lnterm = (
        "CASE WHEN d = 0 OR d >= r THEN CAST(0 AS BIGINT) "
        "ELSE CAST(floor(ln(1e0 - CAST(d AS DOUBLE) / CAST(r AS DOUBLE)) "
        "* 1e6 + 0.5e0) AS BIGINT) END"
    )
    return f"""
WITH ev AS (
  SELECT user_id, {us} AS us
  FROM {{events}}
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
ext AS (SELECT max(us) AS gmax FROM ev),
users AS (
  SELECT user_id,
    (max(us) - min(us)) {day} 86400000000 AS lifetime_d,
    CASE WHEN max(us) < max(gmax) - {_KM_CHURN_GAP_US} THEN 1 ELSE 0 END
      AS churned
  FROM ev CROSS JOIN ext
  GROUP BY user_id
),
days AS (
  SELECT lifetime_d, CAST(count(*) AS BIGINT) AS ending,
    CAST(sum(churned) AS BIGINT) AS d
  FROM users GROUP BY lifetime_d
),
risk AS (
  SELECT lifetime_d, d,
    CAST(sum(ending) OVER (ORDER BY lifetime_d DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r
  FROM days
),
km AS (
  SELECT lifetime_d, d, r,
    CAST(sum({lnterm}) OVER (ORDER BY lifetime_d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS lns_u,
    CAST(sum(CASE WHEN d >= r AND d > 0 THEN 1 ELSE 0 END)
      OVER (ORDER BY lifetime_d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS n_extinct
  FROM risk
)
SELECT lifetime_d, d AS n_churned, r AS n_at_risk,
  {synth.q6("CAST(d AS DOUBLE) / CAST(r AS DOUBLE)")} AS hazard,
  {synth.q6(
      "CASE WHEN n_extinct > 0 THEN 0e0 "
      "ELSE exp(CAST(lns_u AS DOUBLE) / 1e6) END"
  )} AS survival
FROM km
ORDER BY lifetime_d
"""


@register(
    "win_survival_km",
    oracle=_survival_sql("duckdb").format(events="events"),
    doc="Kaplan-Meier user-lifetime survival with 12-hour churn definition "
    "and right censoring: at-risk counts from a reverse-sorted running "
    "sum (incremental, never a suffix frame), hazard d/r, survival as a "
    "BIGINT prefix sum of micro-quantized ln(1-d/r) terms exponentiated "
    "once, all-churn days forced to exact 0. Two inherent passes, "
    "lifetime-summary-sized tail (REF-ANALOG; the churn-curve member of "
    "the event-analytics suite).",
    tags=("window", "agg", "stats"),
)
def win_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_survival_sql("spark"), events=load_table(spark, sf_dir, "events"))
