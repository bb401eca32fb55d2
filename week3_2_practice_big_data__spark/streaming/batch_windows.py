"""Event-time window aggregations, batch form (SURVEY.md §2.1-I).

The reference has no streaming (its only analog is Streamlit's rerun-per-
interaction model, SURVEY §3.1); these are the NS/driver-mandated event-time
operators on `events`. Batch `window()` / `session_window()` first — they are
DuckDB-oracle checkable — with true `readStream` variants in streams.py.

Window boundaries are emitted as epoch integers (seconds / microseconds),
not formatted timestamps: integer epochs hash identically across engines
regardless of timezone/format behavior.

Scale notes: tumbling/sliding aggs shuffle once on (window, key) with
map-side partial aggregation; session windows shuffle on user_id then sort —
same cost model as any window function. With watermarks (streams.py) state
is bounded by (delay / slide) windows per key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..registry import register
from .. import synth

_WIN_S = 600  # 10-minute tumbling window
_SLIDE_S = 300  # 5-minute slide
from ..operators.analytics import _GAP_US  # 5-minute session gap (one definition)


_TUMBLING_ORACLE = f"""
SELECT
  CAST(floor(epoch(ts) / {_WIN_S}) AS BIGINT) * {_WIN_S} AS win_start,
  event_type,
  COUNT(*) AS n,
  {synth.sum_micro("value")} AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY win_start, event_type
"""


@register(
    "stream_tumbling_agg",
    oracle=_TUMBLING_ORACLE,
    doc="Tumbling 10-minute event-time window aggregation — batch form of "
    "groupBy(window('ts','10 minutes')) (NS).",
    tags=("streaming", "bench"),
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", f"{_WIN_S} seconds"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(synth.sum_micro("value")).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


# Sliding windows: event ts belongs to windows starting at the two 5-minute
# marks in (ts - 10min, ts]; the oracle unions the two shifted buckets.
_SLIDING_ORACLE = f"""
WITH starts AS (
  SELECT CAST(floor(epoch(ts) / {_SLIDE_S}) AS BIGINT) * {_SLIDE_S} AS win_start, value FROM events
  UNION ALL
  SELECT CAST(floor(epoch(ts) / {_SLIDE_S}) AS BIGINT) * {_SLIDE_S} - {_SLIDE_S} AS win_start, value FROM events
)
SELECT win_start, COUNT(*) AS n, {synth.sum_micro("value")} AS sum_value
FROM starts
GROUP BY win_start
ORDER BY win_start
"""


@register(
    "stream_sliding_agg",
    oracle=_SLIDING_ORACLE,
    doc="Sliding window('ts','10 minutes','5 minutes') aggregation; oracle "
    "is the two-shifted-tumbling decomposition (NS).",
    tags=("streaming",),
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", f"{_WIN_S} seconds", f"{_SLIDE_S} seconds"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(synth.sum_micro("value")).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "n",
            "sum_value",
        )
        .orderBy("win_start")
    )


# Session windows: gaps-and-islands oracle — a new session starts when the
# gap to the previous event of the same user exceeds the 5-minute gap.
# Gaps-and-islands session oracle: ONE definition, shared with the batch
# window-function strategy (operators/analytics.win_sessionize_gaps) so the
# two physical strategies and this oracle can never drift apart.
from ..operators.analytics import _sessionize_sql as _session_sql  # noqa: E402

_SESSION_ORACLE = _session_sql("duckdb").format(events="events")


@register(
    "stream_session_window",
    oracle=_SESSION_ORACLE,
    doc="session_window('ts','5 minutes') per user — Spark-native session "
    "windows, checked against a gaps-and-islands SQL oracle (NS).",
    tags=("streaming", "bench"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", f"{_GAP_US // 1_000_000} seconds"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )
