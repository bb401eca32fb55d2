"""Data-quality / warehouse-maintenance operators (REF-ANALOG).

The operational queries around a 100 TB warehouse, each as one declarative
plan:

- `dq_constraint_check` — Deequ-style constraint suite in one result set:
  referential integrity, key uniqueness, range and non-emptiness checks,
  each reporting its violation count. FK checks are broadcast anti joins;
  everything else is a single pass over its table.
- `merge_scd2` — slowly-changing-dimension type-2 build: per-user
  event_type change points become versioned rows with [valid_from,
  valid_to) and an is_current flag — lag() finds changes, lead() closes
  intervals; one user_id shuffle.
- `win_moving_zscore` — streaming-style anomaly detection in batch: moving
  mean/std over the trailing 10 readings per user from integer-exact
  micro-scaled values (BIGINT frame sums are exact; BIGINT→DOUBLE
  conversion is IEEE round-to-nearest, identical cross-engine), z-score
  and |z|>2 flag.
- `src_table_stats` — the ANALYZE pass: per-column row/ndv/min/max/null
  counts in one scan — the statistics that feed a cost-based optimizer.
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
# dq_constraint_check
# ---------------------------------------------------------------------------


def _dq_sql(dialect: str) -> str:
    del dialect  # shared text
    return """
WITH checks AS (
  SELECT 'orders_custkey_fk' AS check_name, count(*) AS n_violations
  FROM {orders} LEFT JOIN {customer} ON o_custkey = c_custkey
  WHERE c_custkey IS NULL
  UNION ALL
  SELECT 'orders_orderkey_unique', count(*) FROM (
    SELECT o_orderkey FROM {orders} GROUP BY o_orderkey HAVING count(*) > 1) d
  UNION ALL
  SELECT 'orders_totalprice_positive', count(*)
  FROM {orders} WHERE o_totalprice <= 0
  UNION ALL
  SELECT 'lineitem_discount_range', count(*)
  FROM {lineitem} WHERE l_discount < 0 OR l_discount > 1
  UNION ALL
  SELECT 'lineitem_orderkey_fk', count(*)
  FROM {lineitem} LEFT JOIN {orders} ON l_orderkey = o_orderkey
  WHERE o_orderkey IS NULL
  UNION ALL
  SELECT 'documents_text_nonempty', count(*)
  FROM {documents} WHERE text IS NULL OR length(text) = 0
)
SELECT check_name, n_violations, (n_violations = 0) AS passed
FROM checks ORDER BY check_name
"""


@register(
    "dq_constraint_check",
    oracle=_dq_sql("duckdb").format(
        customer="customer", documents="documents", lineitem="lineitem", orders="orders"
    ),
    doc="Data-quality constraint suite in one result set: two referential-"
    "integrity checks (broadcast anti-join shape), key uniqueness, value "
    "ranges, non-emptiness — per-check violation counts and pass flags "
    "(REF-ANALOG; the Deequ-style gate before a pipeline run).",
    tags=("quality", "agg"),
)
def dq_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _dq_sql("spark"),
        **{
            t: load_table(spark, sf_dir, t)
            for t in ("orders", "customer", "lineitem", "documents")
        },
    )


# ---------------------------------------------------------------------------
# merge_scd2
# ---------------------------------------------------------------------------

_SCD2_OPEN_END = 253_402_300_799_000_000  # 9999-12-31 23:59:59 in micros


def _scd2_sql(dialect: str) -> str:
    us = _us(dialect)
    return f"""
WITH ev AS (
  SELECT user_id, event_id, {us} AS us, event_type FROM {{events}}
),
ordered AS (
  SELECT user_id, event_id, us, event_type,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
      AS prev_type
  FROM ev
),
changes AS (
  SELECT user_id, event_id, us, event_type
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
),
versions AS (
  SELECT user_id, event_type, us AS valid_from,
    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_from
  FROM changes
)
SELECT user_id, event_type, valid_from,
  coalesce(next_from, {_SCD2_OPEN_END}) AS valid_to,
  (next_from IS NULL) AS is_current
FROM versions
ORDER BY user_id, valid_from
"""


@register(
    "merge_scd2",
    oracle=_scd2_sql("duckdb").format(events="events"),
    doc="Slowly-changing-dimension type-2 build from an event stream: "
    "per-user attribute change points become versioned rows with "
    "[valid_from, valid_to) micros and an is_current flag — lag() detects "
    "changes, lead() closes intervals, one user_id shuffle (REF-ANALOG; "
    "complements merge_upsert's type-1 MERGE).",
    tags=("quality", "window", "merge"),
)
def merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_scd2_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# win_moving_zscore
# ---------------------------------------------------------------------------

_Z_FRAME = 9  # trailing frame: current + 9 preceding
_Z_THRESH = "2e0"


def _zscore_sql(dialect: str) -> str:
    us = _us(dialect)
    # saturating front gate for dirty values (see synth.sat): the frame
    # sum of 10 squared milli-unit values must fit int64 under Spark ANSI
    # — 10·(b·10³)² ≤ 9.2×10¹⁸ ⇒ b ≤ 9.6×10⁵; 9×10⁵ leaves margin while
    # covering every legitimate magnitude (observed max 560)
    sat_v = synth.sat("value", 9e5)
    w = (
        "PARTITION BY user_id ORDER BY us, event_id "
        f"ROWS BETWEEN {_Z_FRAME} PRECEDING AND CURRENT ROW"
    )
    # Integer-exact frame sums: value scaled to MILLI-units (BIGINT), so
    # the window sums carry no float-order drift; the BIGINT→DOUBLE casts
    # below are IEEE round-to-nearest — deterministic on both engines.
    # Milli (not micro): the squared FRAME SUM must fit BIGINT under
    # Spark's ANSI overflow check — micro-units overflow at |value| ≈ 960
    # (observed max is 560 and rising with scale; DuckDB would silently
    # promote to HUGEINT and the engines would diverge). The synth.sat
    # gate above pins the worst case to the safe domain.
    mean = "CAST(s1 AS DOUBLE) / n"
    var = "(n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / (n * n)"
    z = f"(CAST(v3 AS DOUBLE) - ({mean})) / sqrt(({var}) + 1e0)"
    return f"""
WITH ev AS (
  SELECT event_id, user_id, {us} AS us,
    CAST(floor({sat_v} * 1e3) AS BIGINT) AS v3
  FROM {{events}}
),
framed AS (
  SELECT event_id, user_id, us, v3,
    CAST(count(*) OVER ({w}) AS DOUBLE) AS n,
    sum(v3) OVER ({w}) AS s1,
    sum(v3 * v3) OVER ({w}) AS s2
  FROM ev
)
SELECT event_id, user_id,
  {synth.q6(z)} AS zscore,
  (abs({z}) > {_Z_THRESH}) AS is_anomaly
FROM framed
ORDER BY user_id, us, event_id
"""


@register(
    "win_moving_zscore",
    oracle=_zscore_sql("duckdb").format(events="events"),
    doc="Moving-window anomaly detection: z-score of each reading against "
    "the trailing-10 mean/std per user, from integer-exact milli-scaled "
    "frame sums (no float-order drift), |z|>2 flag — the batch twin of a "
    "streaming anomaly monitor (REF-ANALOG).",
    tags=("quality", "window", "stats"),
)
def win_moving_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_zscore_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# src_table_stats
# ---------------------------------------------------------------------------


def _stats_col(col: str) -> str:
    return f"""
SELECT '{col}' AS column_name, count(*) AS n_rows,
  count(DISTINCT {col}) AS ndv,
  CAST(min({col}) AS DOUBLE) AS min_v,
  CAST(max({col}) AS DOUBLE) AS max_v,
  CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
FROM {{lineitem}}"""


def _table_stats_sql(dialect: str) -> str:
    del dialect  # shared text
    cols = ("l_discount", "l_extendedprice", "l_linenumber", "l_quantity")
    union = "\nUNION ALL".join(_stats_col(c) for c in cols)
    return f"{union}\nORDER BY column_name"


@register(
    "src_table_stats",
    oracle=_table_stats_sql("duckdb").format(lineitem="lineitem"),
    doc="ANALYZE-style table statistics: per-column row count, NDV, "
    "min/max, null count in one scan of lineitem — the inputs a "
    "cost-based optimizer consumes (REF-ANALOG; min/max are order-free "
    "exact, so fully hash-checkable).",
    tags=("quality", "source", "stats"),
)
def src_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return spark.sql(_table_stats_sql("spark"), lineitem=lineitem)


# ---------------------------------------------------------------------------
# dq_distribution_drift — distribution drift between two data epochs: split
# the event stream at its time midpoint, histogram `value` into 16
# fixed-width buckets over the GLOBAL extent, and score each event_type's
# early-vs-late distribution shift with the Population Stability Index
# (PSI, Σ (p−q)·ln(p/q), the industry drift gate) and the pure-rational
# triangular discrimination (Σ (p−q)²/(p+q) — same detection semantics,
# zero libm in the parse tree). Laplace smoothing (+1 / +B) keeps both
# well-defined for empty buckets; a bucket absent from both epochs
# contributes exactly 0, so grouping only observed (type, bucket) pairs IS
# the full-support sum. The pipeline monitoring op for a crawl/training
# corpus: "did this week's data move?".
# Cross-engine determinism: values enter via sat() and quantize to BIGINT
# micros; the epoch split (2·us ≤ min_us+max_us) and bucket index
# (floor((v−mn)·16/span), quotient a small-denominator rational ≫ ulp from
# any integer it isn't) are pure exact arithmetic; per-bucket PSI terms
# are micro-quantized BEFORE the per-type sum (order-free BIGINT).
# Scale shape (100 TB): one extent pass + one histogram pass (inherent to
# fixed-width histograms), the 1-row extent broadcast onto the stream,
# and everything after the (type, bucket) groupBy is summary-sized
# (≤ #types·16 rows).
# ---------------------------------------------------------------------------

_DRIFT_B = 16


def _drift_hist_sql(dialect: str) -> str:
    """The (event_type, bucket) two-epoch histogram — the corpus-sized
    half of the plan (two inherent scans: extent, then bucketing). The
    Spark builder materializes this once: the drift tail references it
    twice (totals + terms), and CTE inlining would re-run BOTH scans per
    reference (4 scans measured — the r6 multi-reference-tail trap)."""
    us = _us(dialect)
    v6 = f"CAST(floor({synth.sat('value', 1e6)} * 1e6) AS BIGINT)"
    b = f"{_DRIFT_B}"
    return f"""
WITH ev AS (
  SELECT event_type, {us} AS us, {v6} AS v6
  FROM {{events}}
  WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
),
ext AS (
  SELECT min(v6) AS mn6, max(v6) AS mx6, min(us) + max(us) AS mid2 FROM ev
)
SELECT event_type,
  least(CAST(floor(CAST((v6 - mn6) * {b} AS DOUBLE)
    / CAST(mx6 - mn6 + 1 AS DOUBLE)) AS BIGINT), {_DRIFT_B - 1}) AS bkt,
  CAST(sum(CASE WHEN 2 * us <= mid2 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
  CAST(sum(CASE WHEN 2 * us <= mid2 THEN 0 ELSE 1 END) AS BIGINT) AS c_b
FROM ev CROSS JOIN ext
GROUP BY 1, 2
"""


def _drift_sql(dialect: str, hist_ref: str | None = None) -> str:
    b = f"{_DRIFT_B}"
    p = f"(CAST(c_a + 1 AS DOUBLE) / CAST(na + {b} AS DOUBLE))"
    q = f"(CAST(c_b + 1 AS DOUBLE) / CAST(nb + {b} AS DOUBLE))"
    psi_t = f"({p} - {q}) * ln({p} / {q})"
    tri_t = f"({p} - {q}) * ({p} - {q}) / ({p} + {q})"
    return f"""
WITH hist AS (
  {hist_ref or _drift_hist_sql(dialect)}
),
tot AS (
  SELECT event_type, CAST(sum(c_a) AS BIGINT) AS na,
    CAST(sum(c_b) AS BIGINT) AS nb
  FROM hist GROUP BY event_type
),
terms AS (
  SELECT h.event_type, t.na, t.nb,
    CAST(floor(({psi_t}) * 1e6 + 0.5e0) AS BIGINT) AS psi_u,
    CAST(floor(({tri_t}) * 1e6 + 0.5e0) AS BIGINT) AS tri_u
  FROM hist h JOIN tot t ON t.event_type = h.event_type
)
SELECT event_type, max(na) AS n_early, max(nb) AS n_late,
  CAST(sum(psi_u) AS DOUBLE) / 1e6 AS psi,
  CAST(sum(tri_u) AS DOUBLE) / 1e6 AS tri_disc,
  (sum(psi_u) > 200000) AS drifted
FROM terms
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "dq_distribution_drift",
    oracle=_drift_sql("duckdb").format(events="events"),
    doc="Distribution-drift monitor: events split at the time midpoint, "
    "16 fixed-width value buckets over the global extent, per-event_type "
    "PSI (Σ (p−q)·ln(p/q), Laplace-smoothed) plus the pure-rational "
    "triangular discrimination, drift flag at PSI > 0.2. Two passes "
    "(extent + histogram, inherent), 1-row extent broadcast, everything "
    "post-groupBy summary-sized; PSI terms micro-quantized before the "
    "order-free BIGINT sum (REF-ANALOG; the 'did this week's corpus "
    "move?' gate).",
    tags=("quality", "agg", "stats"),
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hist = checkpointed(
        spark, "drift_hist",
        lambda: spark.sql(_drift_hist_sql("spark"), events=events).coalesce(1),
        sf_dir,
    )
    return spark.sql(
        _drift_sql(
            "spark",
            hist_ref="SELECT event_type, bkt, c_a, c_b FROM {hist}",
        ),
        hist=hist,
    )

# ---------------------------------------------------------------------------
# dq_freshness — per-stream freshness / SLA monitor: for every event type,
# the last-seen timestamp, its staleness against the global high-water
# mark (the "now" proxy a batch monitor has), trailing-24h volume and
# hourly rate, and the 6-hour SLA flag. The first page of every pipeline
# dashboard. Two inherent passes (global max + per-type aggregate — the
# drift/extent posture, 1-row broadcast); everything is integer micros
# until the two final fixed-tree divisions.
# ---------------------------------------------------------------------------

_FRESH_SLA_US = 6 * 3_600_000_000  # 6-hour staleness SLA


def _freshness_sql(dialect: str) -> str:
    us = _us(dialect)
    return f"""
WITH ev AS (
  SELECT event_type, {us} AS us
  FROM {{events}}
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
ext AS (SELECT max(us) AS gmax FROM ev),
per AS (
  SELECT event_type, max(us) AS last_us, max(gmax) AS gm,
    CAST(count(*) AS BIGINT) AS n_total,
    CAST(sum(CASE WHEN us > gmax - 86400000000 THEN 1 ELSE 0 END)
      AS BIGINT) AS n_last_24h
  FROM ev CROSS JOIN ext
  GROUP BY event_type
)
SELECT event_type, last_us, n_total, n_last_24h,
  gm - last_us AS staleness_us,
  {synth.q6("CAST(gm - last_us AS DOUBLE) / 3600000000e0")}
    AS staleness_hours,
  {synth.q6("CAST(n_last_24h AS DOUBLE) / 24e0")} AS rate_per_hour_24h,
  (gm - last_us > {_FRESH_SLA_US}) AS sla_breached
FROM per
ORDER BY event_type
"""


@register(
    "dq_freshness",
    oracle=_freshness_sql("duckdb").format(events="events"),
    doc="Per-stream freshness monitor: last-seen micros, staleness vs "
    "the global high-water mark, trailing-24h volume + hourly rate, "
    "6-hour SLA flag. Two inherent passes (1-row global max broadcast + "
    "one per-type aggregate), integer micros end to end (REF-ANALOG; "
    "the pipeline-dashboard member of the dq family).",
    tags=("quality", "agg", "events"),
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_freshness_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# dq_rowcount_anomaly — daily-volume anomaly detection: per-day event
# counts, robust center/scale from the ~30-row daily summary (exact R-7
# medians, q6-quantized before reuse — the agg_mad_robust discipline),
# per-day robust z-score and the 3·1.4826·MAD anomaly flag. The "did
# ingestion break last Tuesday?" monitor. The daily summary is built once
# and checkpointed: median, deviation, and the output tail all read it
# (CTE inlining would re-run the events scan per reference).
# ---------------------------------------------------------------------------


def _rowcount_daily_sql(dialect: str) -> str:
    us = _us(dialect)
    day = (
        f"{us} DIV 86400000000" if dialect == "spark" else f"{us} // 86400000000"
    )
    return f"""
SELECT {day} AS day, CAST(count(*) AS BIGINT) AS c
FROM {{events}} WHERE ts IS NOT NULL
GROUP BY 1
"""


def _rowcount_anomaly_sql(dialect: str, daily_ref: str | None = None) -> str:
    from .statml import _pct

    med = synth.q6(_pct(dialect, "c", "0.5"))
    mad = synth.q6(_pct(dialect, "abs(CAST(c AS DOUBLE) - m)", "0.5"))
    return f"""
WITH daily AS ({daily_ref or _rowcount_daily_sql(dialect)}),
med AS (SELECT {med} AS m FROM daily),
mads AS (
  SELECT max(d.m) AS m, {mad} AS mad
  FROM (SELECT daily.c, med.m FROM daily CROSS JOIN med) d
)
SELECT d.day, d.c AS n_events, s.m AS median_daily, s.mad,
  {synth.q6(
      "(CAST(d.c AS DOUBLE) - s.m) / nullif(1.4826e0 * s.mad, 0e0)"
  )} AS robust_z,
  (abs(CAST(d.c AS DOUBLE) - s.m) > 3e0 * 1.4826e0 * s.mad) AS is_anomaly
FROM daily d CROSS JOIN mads s
ORDER BY d.day
"""


@register(
    "dq_rowcount_anomaly",
    oracle=_rowcount_anomaly_sql("duckdb").format(events="events"),
    doc="Daily-volume anomaly monitor: per-day counts, exact R-7 median "
    "and MAD over the calendar-bounded daily summary (q6 before reuse, "
    "the agg_mad_robust discipline), robust z + 3-sigma-equivalent flag "
    "per day. Daily summary checkpointed once — median/deviation/output "
    "all read it, zero events re-scans (REF-ANALOG; the volume-break "
    "member of the dq family).",
    tags=("quality", "agg", "stats"),
)
def dq_rowcount_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = checkpointed(
        spark, "rc_daily",
        lambda: spark.sql(_rowcount_daily_sql("spark"), events=events).coalesce(1),
        sf_dir,
    )
    return spark.sql(
        _rowcount_anomaly_sql("spark", daily_ref="SELECT day, c FROM {daily}"),
        daily=daily,
    )


# ---------------------------------------------------------------------------
# dq_observe_metrics — df.observe() / CollectMetrics (r10, VERDICT r9
# item 3): the one-pass observability surface a production job attaches
# to its plan — metrics accumulate ON THE SIDE of the real pipeline
# (zero extra scans, zero extra shuffles) and are read from the
# Observation after the action. The key drives a proven pipeline shape
# (the per-type rollup) to a no-op sink with the metrics node attached
# to its INPUT, then emits the observed metrics as the output relation;
# the DuckDB oracle computes the identical metrics relationally — two
# derivations, one hash (the udtf_python_native pattern).
#
# Every metric is exact-integer (counts, null counts, a saturating
# micro-unit sum, min/max ids): CollectMetrics accumulates per-partition
# and merges in arrival order, so BIGINT terms are the only
# order-independent choice (determinism-rules discipline).
#
# Scale note: CollectMetrics is a streaming-fold over rows already
# flowing through the plan — at 100 TB it adds per-row accumulator
# updates and a per-partition merge, no materialization; this is THE
# mechanism for production row-count/null-rate/sum checks (vs the dq
# family's standalone audit queries, which cost a scan each).
# ---------------------------------------------------------------------------

_OBS_VALUE_U = "CAST(floor({sat} * 1000000e0 + 0.5e0) AS BIGINT)"

_OBSERVE_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_props,
  CAST(coalesce(sum({_OBS_VALUE_U.format(
      sat=synth.sat("coalesce(value, 0e0)", 1e9))}), 0) AS BIGINT)
    AS sum_value_u,
  min(event_id) AS min_event_id,
  max(event_id) AS max_event_id
FROM events
"""


@register(
    "dq_observe_metrics",
    oracle=_OBSERVE_ORACLE,
    doc="df.observe()/CollectMetrics: exact-integer audit metrics (row "
    "count, props null count, saturating micro-unit value sum, id "
    "extent) attached to the INPUT of a proven rollup pipeline and "
    "driven to a no-op sink in ONE pass — the observed metrics are the "
    "output relation, hash-pinned against the same metrics computed "
    "relationally by DuckDB (REF-ANALOG: the production observability "
    "seam beside the dq family's standalone audits).",
    tags=("quality", "agg"),
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("w32bd_obs_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("props").isNull().cast("long")).alias("n_null_props"),
        F.coalesce(
            F.sum(
                F.expr(
                    _OBS_VALUE_U.format(
                        sat=synth.sat("coalesce(value, 0e0)", 1e9)
                    )
                )
            ),
            F.lit(0).cast("long"),
        ).alias("sum_value_u"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )
    # The pipeline the metrics ride on: the proven per-type rollup,
    # driven to the no-op sink (full plan execution, nothing collected).
    (
        observed.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    try:
        m = obs.get
        row = [
            (
                m["n_rows"],
                m["n_null_props"],
                m["sum_value_u"],
                m["min_event_id"],
                m["max_event_id"],
            )
        ]
    except Exception:
        # Empty relation: the action schedules zero tasks, the
        # CollectMetrics node never executes, and Observation.get has no
        # row to return (JVM-side assertion). The metrics of an empty
        # input are the empty-table aggregates — count 0, NULL sums/
        # extents, coalesced micro-sum 0 — exactly what the oracle's
        # aggregates yield over zero rows.
        row = [(0, None, 0, None, None)]
    # r14: literal JVM row, not createDataFrame — a Python-RDD-backed
    # 1-row relation paid a Python-worker round trip on EVERY action
    # (0.35 s steady, >1 s when the bench prefix left the worker pool
    # cold: the r13 in-bench 4.4x anomaly and its 0.28 low-core scaling
    # ratio were worker SPAWN, not compute).
    from ..common import local_rows_df

    return local_rows_df(
        spark,
        "n_rows bigint, n_null_props bigint, sum_value_u bigint, "
        "min_event_id bigint, max_event_id bigint",
        row,
    )
