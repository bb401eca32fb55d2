"""Projection / scalar-function operators (SURVEY.md §2.1-B).

Every REF key here is a whole-array NumPy expression from the reference
re-expressed as Catalyst column expressions over long-format tables — the
vectorization analog is whole-stage codegen, not ndarray kernels. The shared
shading pipeline (radial + directional light + affine blend + color scale,
app.py:70-81) is built once as a CTE chain and each key projects its stage.

Scale notes: all pure narrow projections — no shuffle except the per-blob
window min/max (dmax, light normalization), which shuffles by blob_id only.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..registry import register
from ..common import clip01 as _clip01
from .. import synth

_SEED, _NB = 42, 6
_GN = 48  # standalone shading grid (48×48 per blob)

_LX, _LY = "-0.6e0", "0.8e0"  # light_dir default, app.py:52


def _shade_sql(dialect: str) -> str:
    """Shared shading CTE chain (app.py:70-81) over blob×grid.

    nx,ny = offset from the BOUNDARY-SAMPLE centroid (px.mean()/py.mean(),
    app.py:70 — the wobbled outline's centroid, not the pre-wobble blob
    center, matching the reference and plans/generative.py); radial =
    clip(1-d/dmax); light = dot with light_dir, min-max normalized per blob;
    shade = affine blend; r,g,b = clip(color·shade).
    """
    x = synth.linspace("g.col", "0e0", "1e0", _GN)
    y = synth.linspace("g.row", "0e0", "1e0", _GN)
    return f"""
WITH blobs AS ({synth.blobs_sql(_SEED, _NB, dialect)}),
boundary AS ({synth.boundary_sql(_SEED, _NB, dialect)}),
centroid AS (
  SELECT blob_id,
    {synth.q6("sum(px) / count(*)")} AS ccx,
    {synth.q6("sum(py) / count(*)")} AS ccy
  FROM boundary GROUP BY blob_id
),
grid AS (
  SELECT r.row, c.col
  FROM {synth.series_sql(_GN, "row", dialect)} r
  CROSS JOIN {synth.series_sql(_GN, "col", dialect)} c
),
px AS (
  SELECT b.blob_id, g.row, g.col,
    ({x}) - c.ccx AS nx, ({y}) - c.ccy AS ny,
    b.depth, b.col_r, b.col_g, b.col_b
  FROM blobs b JOIN centroid c ON b.blob_id = c.blob_id CROSS JOIN grid g
),
dist AS (
  SELECT *, sqrt(nx * nx + ny * ny) AS d, nx * {_LX} + ny * {_LY} AS light
  FROM px
),
norm AS (
  SELECT *,
    {_clip01("1e0 - d / max(d) OVER (PARTITION BY blob_id)")} AS radial,
    (light - min(light) OVER (PARTITION BY blob_id))
      / (max(light) OVER (PARTITION BY blob_id)
         - min(light) OVER (PARTITION BY blob_id) + 1e-9) AS light_n
      -- +1e-9: the reference divides exactly (app.py:76) and never hits a
      -- degenerate span at its sampling density, but a single-row group
      -- (the .tmp/sf_one degenerate sweep) makes max==min → 0/0 = NaN and
      -- an ANSI divide-by-zero risk. The guard is IDENTICAL TEXT in both
      -- dialects, so it is oracle-sound — do not "fix" it back to the
      -- exact division without re-running the degenerate gate.
  FROM dist
),
shade AS (
  SELECT *, 0.3e0 + 0.7e0 * (0.5e0 * radial + 0.5e0 * light_n) AS shade
  FROM norm
)
SELECT blob_id, row, col, nx, ny, d, light, radial, light_n, shade,
  {_clip01("col_r * shade")} AS r,
  {_clip01("col_g * shade")} AS g,
  {_clip01("col_b * shade")} AS b
FROM shade
"""


def _stage_sql(dialect: str, cols: dict[str, str]) -> str:
    sel = ", ".join(f"{synth.q6(expr)} AS {name}" for name, expr in cols.items())
    return (
        f"SELECT blob_id, row, col, {sel} FROM ({_shade_sql(dialect)}) s "
        "ORDER BY blob_id, row, col"
    )


def _register_stage(key: str, cols: dict[str, str], doc: str, tags=("projection", "generative")):
    @register(key, oracle=_stage_sql("duckdb", cols), doc=doc, tags=tags)
    def _q(spark: SparkSession, sf_dir: str, _cols=cols) -> DataFrame:
        return spark.sql(_stage_sql("spark", _cols))

    return _q


_register_stage(
    "proj_dist_radial",
    {"d": "d", "radial": "radial"},
    "Euclidean distance from blob center + clipped radial falloff "
    "(app.py:71-73).",
)
_register_stage(
    "proj_dot_light",
    {"light": "light"},
    "Directional light: 2-D dot product with light_dir (app.py:75).",
)
_register_stage(
    "proj_minmax_norm",
    {"light_n": "light_n"},
    "Min-max normalization of the light field per blob (app.py:76).",
)
_register_stage(
    "proj_shade_affine",
    {"shade": "shade"},
    "Affine shade blend 0.3 + 0.7·(0.5·radial + 0.5·light) (app.py:78).",
)
_register_stage(
    "proj_color_scale",
    {"r": "r", "g": "g", "b": "b"},
    "Channel-wise color·shade multiply with [0,1] clip (app.py:79-80).",
)


# ---------------------------------------------------------------------------
# Boundary-table projections (app.py:141-144).
# ---------------------------------------------------------------------------


def _polar_sql(dialect: str) -> str:
    return (
        f"SELECT blob_id, k, {synth.q6('theta')} AS theta, px, py "
        f"FROM ({synth.boundary_sql(_SEED, 14, dialect)}) b ORDER BY blob_id, k"
    )


@register(
    "proj_trig_polar",
    oracle=_polar_sql("duckdb"),
    doc="Polar→cartesian boundary projection px=cx+rr·cos θ, py=cy+rr·sin θ "
    "(app.py:143-144).",
    tags=("projection", "generative"),
)
def proj_trig_polar(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_polar_sql("spark"))


def _wobble_sql(dialect: str) -> str:
    return (
        f"SELECT blob_id, k, {synth.q6('rr')} AS rr "
        f"FROM ({synth.boundary_sql(_SEED, 14, dialect)}) b ORDER BY blob_id, k"
    )


@register(
    "proj_wobble",
    oracle=_wobble_sql("duckdb"),
    doc="Noise-modulated radius rr = r·(1 + wobble·(u-0.5)·2) (app.py:142).",
    tags=("projection", "generative"),
)
def proj_wobble(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_wobble_sql("spark"))


def _gauss_sql(dialect: str) -> str:
    radius = 6
    raw = f"exp(-((i - {radius}) * (i - {radius})) / (2e0 * 2e0 * 2e0 * 2e0))"
    return (
        f"SELECT CAST(i - {radius} AS BIGINT) AS tap, {synth.q6(raw)} AS w "
        f"FROM {synth.series_sql(2 * radius + 1, 'i', dialect)} ORDER BY tap"
    )


@register(
    "proj_gauss_exp",
    oracle=_gauss_sql("duckdb"),
    doc="Unnormalized Gaussian kernel weights exp(-x²/2σ²) (app.py:27).",
    tags=("projection", "generative"),
)
def proj_gauss_exp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_gauss_sql("spark"))


def _mod_cycle_sql(dialect: str) -> str:
    return (
        f"SELECT i AS blob_id, i % {_NB} AS color_id "
        f"FROM {synth.series_sql(28, 'i', dialect)} ORDER BY blob_id"
    )


@register(
    "proj_mod_cycle",
    oracle=_mod_cycle_sql("duckdb"),
    doc="Palette index cycling i %% len(palette) (app.py:146).",
    tags=("projection", "generative"),
)
def proj_mod_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_mod_cycle_sql("spark"))


def _cond_guard_sql(dialect: str) -> str:
    sigma = "((i - 2) * 0.5e0)"
    radius = f"CASE WHEN {sigma} <= 0e0 THEN 0 ELSE CAST(floor(3e0 * {sigma} + 0.5e0) AS BIGINT) END"
    return (
        f"SELECT i, {sigma} AS sigma, {radius} AS radius, "
        f"CASE WHEN {sigma} <= 0e0 THEN 1 ELSE 2 * ({radius}) + 1 END AS kernel_len "
        f"FROM {synth.series_sql(9, 'i', dialect)} ORDER BY i"
    )


@register(
    "proj_cond_guard",
    oracle=_cond_guard_sql("duckdb"),
    doc="Early-return guards sigma<=0 as CASE/WHEN (app.py:23-24,32-33).",
    tags=("projection", "generative"),
)
def proj_cond_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_cond_guard_sql("spark"))


# ---------------------------------------------------------------------------
# fn_string_fmt — f-string formatting (app.py:152,158).
# ---------------------------------------------------------------------------

_FMT_ORACLE = """
SELECT c_custkey,
  printf('poster_seed_%d.png', c_custkey) AS file_name,
  printf('Seed: %d | Blobs: %d', c_custkey, c_nationkey) AS caption
FROM customer ORDER BY c_custkey
"""


@register(
    "fn_string_fmt",
    oracle=_FMT_ORACLE,
    doc="printf-style string interpolation — the f-string filename/caption "
    "at app.py:152,158.",
    tags=("function",),
)
def fn_string_fmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.format_string("poster_seed_%d.png", "c_custkey").alias("file_name"),
        F.format_string("Seed: %d | Blobs: %d", "c_custkey", "c_nationkey").alias(
            "caption"
        ),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# fn_hsv_to_rgb — HSV→RGB as an Arrow-vectorized pandas_udf (app.py:5,19),
# checked against the pure-SQL sextant formula oracle. This is the engine's
# `udf_rowwise_lambda` pattern done right: batch-vectorized, not per-row.
# ---------------------------------------------------------------------------


def _hsv_inputs_sql(dialect: str) -> str:
    n = 24
    h = f"(i / {synth.flit(n)})"
    s = synth.uniform("i + 7000000", _SEED, 0, 0.35, 0.65)
    v = synth.uniform("i + 9000000", _SEED, 0, 0.75, 0.95)
    return (
        f"SELECT i, {h} AS h, {s} AS s, {v} AS v "
        f"FROM {synth.series_sql(n, 'i', dialect)}"
    )


def _hsv_oracle() -> str:
    r, g, b = synth.hsv_to_rgb_exprs("h", "s", "v")
    return (
        f"SELECT i, {synth.q6(r)} AS r, {synth.q6(g)} AS g, {synth.q6(b)} AS b "
        f"FROM ({_hsv_inputs_sql('duckdb')}) t ORDER BY i"
    )


@register(
    "fn_hsv_to_rgb",
    oracle=_hsv_oracle(),
    doc="HSV→RGB color conversion as a vectorized pandas_udf (app.py:5,19); "
    "NumPy sextant arithmetic mirrors the SQL oracle bit-for-bit.",
    tags=("function", "udf", "generative"),
)
def fn_hsv_to_rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    def _channels(h: pd.Series, s: pd.Series, v: pd.Series):
        h, s, v = h.to_numpy(), s.to_numpy(), v.to_numpy()
        i = (np.floor(h * 6).astype(np.int64)) % 6
        f = h * 6 - np.floor(h * 6)
        p = v * (1.0 - s)
        q = v * (1.0 - f * s)
        t = v * (1.0 - (1.0 - f) * s)
        r = np.select([i == 0, i == 1, i == 2, i == 3, i == 4], [v, q, p, p, t], v)
        g = np.select([i == 0, i == 1, i == 2, i == 3, i == 4], [t, v, v, q, p], p)
        b = np.select([i == 0, i == 1, i == 2, i == 3, i == 4], [p, p, t, v, v], q)
        return r, g, b

    @F.pandas_udf("r0 double, g0 double, b0 double")
    def rgb(h: pd.Series, s: pd.Series, v: pd.Series) -> pd.DataFrame:
        r, g, b = _channels(h, s, v)
        return pd.DataFrame({"r0": r, "g0": g, "b0": b})

    base = spark.sql(_hsv_inputs_sql("spark"))
    return (
        base.withColumn("rgb", rgb("h", "s", "v"))
        .select(
            "i",
            F.expr(synth.q6("rgb.r0")).alias("r"),
            F.expr(synth.q6("rgb.g0")).alias("g"),
            F.expr(synth.q6("rgb.b0")).alias("b"),
        )
        .orderBy("i")
    )


# ---------------------------------------------------------------------------
# fn_datetime_math — REF-ANALOG date/timestamp functions (the reference only
# has wall-clock time.time(), app.py:116,161).
# ---------------------------------------------------------------------------


def _dt_sql(dialect: str) -> str:
    if dialect == "spark":
        return """
SELECT o_orderkey,
  year(o_orderdate) AS yr,
  month(o_orderdate) AS mo,
  CAST(datediff(o_orderdate, DATE '1995-01-01') AS BIGINT) AS day_offset,
  date_format(date_trunc('MONTH', o_orderdate), 'yyyy-MM-dd') AS month_start
FROM {orders} ORDER BY o_orderkey
"""
    return """
SELECT o_orderkey,
  CAST(year(o_orderdate) AS INT) AS yr,
  CAST(month(o_orderdate) AS INT) AS mo,
  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_offset,
  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
FROM orders ORDER BY o_orderkey
"""


@register(
    "fn_datetime_math",
    oracle=_dt_sql("duckdb"),
    doc="Date/timestamp arithmetic on orders (REF-ANALOG of time.time() at "
    "app.py:116,161).",
    tags=("function",),
)
def fn_datetime_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_dt_sql("spark"), orders=load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# fn_json_extract — NS: JSON property extraction from events.props.
# ---------------------------------------------------------------------------


def _json_sql(dialect: str) -> str:
    if dialect == "spark":
        return """
SELECT event_id, CAST(get_json_object(props, '$.k') AS BIGINT) AS k
FROM {events} ORDER BY event_id
"""
    return """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events ORDER BY event_id
"""


@register(
    "fn_json_extract",
    oracle=_json_sql("duckdb"),
    doc="JSON field extraction from events.props (NS; from_json/"
    "get_json_object).",
    tags=("function", "ns"),
)
def fn_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_json_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# fn_variant_type — the Spark 4 VARIANT type (r10): the semi-structured
# column type (SPARK-45891) a Spark 4 user stores JSON-shaped data in —
# parse_json → VariantVal, typed path access via variant_get and the
# `:` path operator, schema_of_variant introspection, to_json
# round-trip, and try_parse_json's NULL-on-malformed contract. Every
# output column is projected back to a scalar (BIGINT/STRING) so the
# driver hash applies; the oracle recomputes each via DuckDB's JSON
# functions — the hash pins the variant binary encode/decode loop as
# value-preserving.
#
# Scale note: VARIANT is a binary columnar encoding evaluated inside
# codegen (no Python); at 100 TB it replaces repeated get_json_object
# string re-parses with one parse into a navigable binary — the typed
# successor of fn_json_extract's string path.
# ---------------------------------------------------------------------------


def _variant_sql(dialect: str) -> str:
    if dialect == "spark":
        return """
SELECT event_id,
  variant_get(parse_json(props), '$.k', 'bigint') AS k,
  CAST(parse_json(props):k AS BIGINT) AS k_colon,
  variant_get(parse_json(props), '$.missing', 'bigint') AS k_missing,
  schema_of_variant(parse_json(props)) AS vschema,
  to_json(parse_json(props)) AS roundtrip,
  CAST(try_parse_json(repeat('{{', 1)) IS NULL AS BOOLEAN) AS malformed_is_null
FROM {events} ORDER BY event_id
"""
    # NULL- and empty-object-safe (calibrated live: parse_json(NULL) →
    # NULL variant; '{}' → schema 'OBJECT<>', round-trip '{}')
    return """
SELECT event_id,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_colon,
  CAST(NULL AS BIGINT) AS k_missing,
  CASE WHEN props IS NULL THEN NULL
       WHEN json_extract_string(props, '$.k') IS NULL THEN 'OBJECT<>'
       ELSE 'OBJECT<k: BIGINT>' END AS vschema,
  CASE WHEN props IS NULL THEN NULL
       WHEN json_extract_string(props, '$.k') IS NULL THEN '{}'
       ELSE '{"k":' || json_extract_string(props, '$.k') || '}' END
    AS roundtrip,
  CAST(TRUE AS BOOLEAN) AS malformed_is_null
FROM events ORDER BY event_id
"""


@register(
    "fn_variant_type",
    oracle=_variant_sql("duckdb"),
    doc="Spark 4 VARIANT surface COMPLETION (fn_variant_json covers the "
    "parse_json + variant_get access path since r5): the `:` path "
    "operator, schema_of_variant introspection, to_json round-trip and "
    "try_parse_json's NULL-on-malformed contract, per-row beside the "
    "typed get — all projected to scalars, hash-pinned against DuckDB's "
    "JSON derivation, NULL/empty-object boundary calibrated live (B).",
    tags=("function", "ns"),
)
def fn_variant_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_variant_sql("spark"), events=load_table(spark, sf_dir, "events"))
