"""The generative poster pipeline (SURVEY.md §3.2, §7.1 M3) — reference parity.

Reference dataflow (app.py:136-150 + render_blob 51-93): seeded blob params →
280-sample wobbled polygon boundary → rasterize mask (contains_points) →
radial+directional shading → RGBA with depth alpha → separable Gaussian
shadow blur → painter's-algorithm composite → PNG export.

Engine re-expression — relational, long-format, per SURVEY §1.2:
- a render's UI parameters (seed, n_blobs, light, background theme) are
  one VALUES row (`ui`), not literals in the expressions, so every edit at
  a canvas size is the same plan and the same generated Java: Spark's
  compiled-class cache serves an edit instead of Janino compiling ~30
  classes for it.
- the blobs are one array of structs generated from `ui` (`_blob_sql`);
  each carries its closed polygon as a 280-edge array (vertex k + 1 is an
  array index, no window), its box bounds, centroid and shading
  normalizers (array folds).
- polygon containment is NOT a UDF here but even-odd ray casting over
  each raster row's crossings, defined once (`_scan_sql`, after Raptor's
  per-row runs) and read by the composite and every per-pixel key; those
  generate each blob's candidate pixels from its box with `inline(...)` —
  no pixel×box join. A pandas_udf variant (`udf_geom_contains`)
  cross-checks the counts through the Arrow UDF surface.
- the blur is two 1-D Gaussian passes (separable factorization kept from
  the reference, SURVEY §4.1), one tap sum Σ w_o·v(o) for both forms: over
  lead()/lag() windows for `win_conv2d_separable`, and over each blob's
  mask array for the shadow — the mask built rows × cols from each raster
  row's crossings by the same parity test, both passes as array
  transforms, and the (+0.02, −0.02) offset sample as a bilinear read of
  the blurred array by guarded 2-D index. No join, no window.
- compositing is the ordered non-commutative fold (SURVEY §7.4.1) as a
  gather: each pixel folds, with aggregate() (list_reduce in DuckDB), the
  layers of the blobs that contain it over its row's background, in the
  blob array's depth order — with the shadow on, the shadows first, under
  every blob.

Stage shape: the composite is generators and projections over the one
`scene` row — per raster row the blobs whose box spans it with their
crossings of that row, per pixel the fold — so it has no exchange, no
aggregate and no join, and a 64 px edit, shadow or not, runs as one Spark
job. The scene's `COALESCE(1)` hint keeps the plan in one partition, so
the final ORDER BY sorts locally; the hint is query text, scoped to the
one query, and a comment to DuckDB, which reads the same SQL as the
oracle. All pixel work sits in that one task; `_composite_sql` notes the
trade-off.
"""

from __future__ import annotations

import functools

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..common import clip01 as _clip01
from ..common import checkpointed
from .. import synth
from .png import encode_png_rgb, png_dimensions

SEED = 42
NB = 6  # blobs in the query-key configuration
CANVAS = 96  # global canvas resolution (H = W)
NSAMP = 280  # boundary samples per blob (app.py:141)
PAD = "0.4e0"  # bbox pad fraction of max(xrange, yrange), app.py:58-60
_LX, _LY = "-0.6e0", "0.8e0"  # light_dir (app.py:52)
_SHADOW_OFF = 0.02  # shadow extent shift, app.py:90


# Background themes: the reference declares two hex colors per theme
# (bg_colors, app.py:126-130) and draws a vertical gradient imshow at
# alpha 0.2 before compositing blobs (app.py:132-133). NOTE the reference
# then colors that gradient with a matplotlib COLORMAP ("coolwarm"/"Wistia"),
# leaving its own hex pairs unused — the engine deliberately uses the
# declared hex pairs (a linear c1→c2 ramp) instead of reimplementing
# matplotlib colormap tables; same layer semantics, documented deviation in
# the gradient's color function. `None` keeps the plain white canvas.
_THEMES = {
    "cool": ("#a2cffe", "#f7faff"),
    "warm": ("#ffdfba", "#fffaf0"),
    "neutral": ("#e8e8e8", "#ffffff"),
}
_BG_ALPHA = 0.2


def _theme_ramp(theme: str | None) -> list[tuple[float, float]]:
    """Per-channel (base, slope) of the background: bg(row) = base + slope ·
    (row / (canvas-1)).

    bg(t) = (1-α)·white + α·(c1 + (c2-c1)·t), t = row/(canvas-1) — the
    alpha-0.2 vertical gradient of app.py:132-133 over the white figure.
    No theme is the white canvas: base 1, slope 0 (1 + 0·t = 1 exactly).
    """
    if theme is None:
        return [(1.0, 0.0)] * 3
    c1, c2 = _THEMES[theme]
    out = []
    for ch in range(3):
        v1 = int(c1[1 + 2 * ch : 3 + 2 * ch], 16) / 255.0
        v2 = int(c2[1 + 2 * ch : 3 + 2 * ch], 16) / 255.0
        out.append(((1.0 - _BG_ALPHA) + _BG_ALPHA * v1, _BG_ALPHA * (v2 - v1)))
    return out


# Even-odd ray casting (contains_points, app.py:44-45), one definition of
# each part for every consumer. `_XCROSS` is the x of edge e's crossing with
# raster row y: read by the row's crossings and by the per-pixel test.
_XCROSS = "(e.x2 - e.x1) * (y - e.y1) / (e.y2 - e.y1) + e.x1"


def _crossings(dialect: str, edges: str, **fields: str) -> str:
    """Struct of `fields` and raster row y's crossings of the polygon
    `edges`: `redges`, the edges with one end above the row and one not,
    and `xs`, their x at the row (two to four for these blobs)."""
    redges = f"filter({edges}, e -> (e.y1 > y) != (e.y2 > y))"
    xs = f"{synth.list_fn('transform', dialect)}(r, e -> {_XCROSS})"
    row = synth.struct_sql(dict(fields, redges="r", xs=xs), dialect)
    return synth.let_sql(redges, "r", row, dialect)


def _odd(dialect: str, items: str, pred: str) -> str:
    """The parity test: true iff an odd number of `items` satisfy `pred`."""
    return f"{synth.list_fn('size', dialect)}(filter({items}, {pred})) % 2 = 1"


def _inside(dialect: str, xs: str, x: str) -> str:
    """Pixel x is inside iff an odd number of its row's crossings lie right of it."""
    return _odd(dialect, xs, f"v -> v > {x}")


# Largest n_blobs the reference's slider offers (app.py:108).
_NB_MAX = 30


def _ui_sql(
    dialect: str, seed: int, nb: int, lx: str, ly: str, theme: str | None
) -> str:
    """The render's UI parameters (app.py:107-113) as a one-row relation.

    Seed, n_blobs, light and the theme's background ramp are DATA here, not
    literals in the expressions: every edit at one canvas size is then the
    same query text up to this row, Catalyst produces the same plan and
    whole-stage codegen the same Java source, so Spark's compiled-class
    cache hits instead of compiling ~30 classes per edit.
    """
    if not 1 <= nb <= _NB_MAX:
        raise ValueError(f"n_blobs must be in 1..{_NB_MAX}, got {nb}")
    cols = {
        "seed": f"CAST({seed} AS BIGINT)",
        "nb": f"CAST({nb} AS BIGINT)",
        "lx": lx,
        "ly": ly,
    }
    for ch, (base, slope) in zip("rgb", _theme_ramp(theme)):
        cols[f"bg_{ch}"] = synth.flit(base)
        cols[f"bg_d{ch}"] = synth.flit(slope)
    return synth.values_sql(cols, "ui", dialect)


def _axis(dialect: str, lo: str, hi: str, n: int, shift: float = 0.0) -> str:
    """Sorted array of the grid indices i in 0..n-1 whose linspace
    coordinate v(i) (+ `shift`) lies in [lo, hi] — the pixels a per-blob
    box keeps, generated instead of found by a pixel×box join.

    Candidates are the inverse map with a one-index margin on each side
    (1/(n-1) in v, far wider than any rounding of v), clamped to the grid;
    then the exact comparison the join used decides, so the set is the
    join's, bit for bit."""
    v = synth.linspace("i", "0e0", "1e0", n)
    if shift:
        v = f"{v} + {synth.flit(shift)}"
    scale = synth.flit(n - 1)

    def clamp(e: str) -> str:
        return f"least(greatest({e}, 0), {n - 1})"

    a = clamp(f"CAST(floor(({lo} - {synth.flit(shift)}) * {scale}) AS BIGINT) - 1")
    b = clamp(f"CAST(ceil(({hi} - {synth.flit(shift)}) * {scale}) AS BIGINT) + 1")
    cands = synth.int_list(a, f"greatest({a}, {b})", dialect)
    return f"filter({cands}, i -> {v} >= {lo} AND {v} <= {hi})"


def _blob_sql(dialect: str, canvas: int, canvas_h: int, shadow: bool = False) -> str:
    """The render's blobs as one array of structs in depth order, generated
    from the `ui` columns: the one definition of a blob, read by the
    composite and the per-pixel keys through `_scan_sql`.

    Each blob is a chain of `synth.let_sql` binds, each step evaluated
    once: its parameters `b` (app.py:138-146) → the 280 q6-quantized
    `verts` → the closed `edges` (vertex k + 1 is an array index, not a
    window) → their extent `m` → the padded box and the centroid `bx` (the
    vertices summed left to right, the same additions as a row SUM) → the
    box's grid rows and cols `ax` (see `_axis`; contiguous, so the struct
    keeps their bounds) → the pixel rectangle's corner coordinates `c`.

    The shading normalizers (max distance and the light range over a
    blob's candidate pixels) come from the four corners of the pixel
    rectangle: each is a rounded, coordinate-wise monotone function of
    the pixel's x and y, so its extremes over a rectangle of grid points
    lie on the corners, with the same doubles the windows over all pixels
    computed.

    With `shadow`, a blob also carries the bounds of its box shifted by
    the (+0.02, −0.02) extent offset (app.py:90), where its shadow is
    drawn. Lambdas read only lambda variables and `ui` columns (see
    `synth.let_sql`)."""
    fn = functools.partial(synth.list_fn, dialect=dialect)
    t, lo, hi = fn("transform"), fn("min"), fn("max")
    struct = functools.partial(synth.struct_sql, dialect=dialect)
    k_all = synth.int_list("0", str(NSAMP - 1), dialect)
    _, _, vx, vy = synth.vertex_exprs("seed", "k", NSAMP)
    raw = struct(dict(x=vx, y=vy))
    quant = struct(dict(x=synth.q6("v.x"), y=synth.q6("v.y")))

    def vert(k: str, field: str) -> str:
        return f"{synth.list_at('verts', k, dialect)}.{field}"

    k1 = f"(k + 1) % {NSAMP}"
    edge = struct(
        dict(x1=vert("k", "x"), y1=vert("k", "y"), x2=vert(k1, "x"), y2=vert(k1, "y"))
    )

    def fold(agg: str, field: str) -> str:
        return f"{fn(agg)}({t}(verts, v -> v.{field}))"

    def centroid(field: str) -> str:
        vals = f"{t}(verts, v -> v.{field})"
        return synth.q6(f"{synth.list_sum_sql(vals, dialect)} / {NSAMP}")

    ext = f"{PAD} * greatest(m.xmax - m.xmin, m.ymax - m.ymin)"
    axes = dict(
        rows=_axis(dialect, "bx.by0", "bx.by1", canvas_h),
        cols=_axis(dialect, "bx.bx0", "bx.bx1", canvas),
    )
    if shadow:
        axes.update(
            srows=_axis(dialect, "bx.by0", "bx.by1", canvas, _SHADOW_OFF),
            scols=_axis(dialect, "bx.bx0", "bx.bx1", canvas, -_SHADOW_OFF),
        )

    def ycoord(i: str) -> str:
        return synth.linspace(i, "0e0", "1e0", canvas_h)

    def xcoord(i: str) -> str:
        return synth.linspace(i, "0e0", "1e0", canvas)

    corners = [(f"c.{x}", f"c.{y}") for x in ("xlo", "xhi") for y in ("ylo", "yhi")]
    dist = [f"sqrt(({x} - bx.ccx) * ({x} - bx.ccx) + ({y} - bx.ccy) * ({y} - bx.ccy))"
            for x, y in corners]
    light = [f"({x} - bx.ccx) * lx + ({y} - bx.ccy) * ly" for x, y in corners]
    rgb = synth.hsv_to_rgb_exprs("b.hue", "b.sat", "b.val")
    blob = dict(
        blob_id="b.blob_id", depth="b.depth",
        col_r=rgb[0], col_g=rgb[1], col_b=rgb[2], edges="edges",
        rlo=f"{lo}(ax.rows)", rhi=f"{hi}(ax.rows)",
        clo=f"{lo}(ax.cols)", chi=f"{hi}(ax.cols)",
        ccx="bx.ccx", ccy="bx.ccy",
        dmax=f"greatest({', '.join(dist)})",
        lmin=f"least({', '.join(light)})", lmax=f"greatest({', '.join(light)})",
    )
    if shadow:
        blob.update(srlo=f"{lo}(ax.srows)", srhi=f"{hi}(ax.srows)",
                    sclo=f"{lo}(ax.scols)", schi=f"{hi}(ax.scols)")
    steps = [
        ("b", struct(dict(blob_id="blob_id", **synth.blob_base_exprs("seed", "nb")))),
        ("verts", f"{t}({t}({k_all}, k -> {raw}), v -> {quant})"),
        ("edges", f"{t}({k_all}, k -> {edge})"),
        ("m", struct(dict(xmin=fold("min", "x"), xmax=fold("max", "x"),
                          ymin=fold("min", "y"), ymax=fold("max", "y")))),
        ("bx", struct(dict(bx0=f"m.xmin - {ext}", bx1=f"m.xmax + {ext}",
                           by0=f"m.ymin - {ext}", by1=f"m.ymax + {ext}",
                           ccx=centroid("x"), ccy=centroid("y")))),
        ("ax", struct(axes)),
        ("c", struct(dict(xlo=xcoord(f"{lo}(ax.cols)"), xhi=xcoord(f"{hi}(ax.cols)"),
                          ylo=ycoord(f"{lo}(ax.rows)"), yhi=ycoord(f"{hi}(ax.rows)")))),
    ]
    body = struct(blob)
    for var, value in reversed(steps):
        body = synth.let_sql(value, var, body, dialect)
    return f"{t}({synth.int_list('0', 'nb - 1', dialect)}, blob_id -> {body})"


def _shadow_blur_sql(dialect: str, canvas: int, sigma: float) -> str:
    """Each blob's shadow (shadow_toggle, app.py:87-91) before its offset:
    the separable Gaussian blur of its mask over its box, as an array of
    rows, one per blob of `blobs` in the same order. On arrays:

    1. the mask, rows × cols: each raster row's crossings
       (`_crossings`), then each pixel's parity against them (`_inside`);
    2. the two separable passes as array transforms, zero past the box.

    The passes share `_blur_terms` with the window form
    (`win_conv2d_separable`): the same doubles, added in the same order."""
    t = synth.list_fn("transform", dialect)
    pos = functools.partial(synth.lambda_pos, dialect=dialect)
    get = functools.partial(synth.list_get, dialect=dialect)

    def cell(arr: str, i: str, j: str | None = None) -> str:
        # arr[i] (or arr[i][j]), 0 outside the box.
        val = get(arr, i)
        return f"coalesce({val if j is None else get(val, j)}, 0e0)"

    def coords(lo: str, hi: str) -> str:
        coord = synth.linspace("i", "0e0", "1e0", canvas)
        return f"{t}({synth.int_list(lo, hi, dialect)}, i -> {coord})"

    grid = synth.struct_sql(
        dict(e="b.edges", y=coords("b.rlo", "b.rhi"), x=coords("b.clo", "b.chi")), dialect
    )
    mask = synth.let_sql(
        grid, "g",
        f"{t}({t}(g.y, y -> {_crossings(dialect, 'g.e')}), c -> {t}(g.x, x -> "
        f"CASE WHEN {_inside(dialect, 'c.xs', 'x')} THEN 1e0 ELSE 0e0 END))",
        dialect,
    )
    pass1 = _blur_terms(lambda off: cell("mr", f"{pos('j')} + {off}"), sigma)
    pass2 = _blur_terms(lambda off: cell("bl", f"{pos('i')} + {off}", pos("j")), sigma)
    blur = synth.let_sql(
        f"{t}({mask}, mr -> {t}(mr, (v, j) -> {pass1}))", "bl",
        f"{t}(bl, (br, i) -> {t}(br, (v, j) -> {pass2}))", dialect,
    )
    return f"{t}(blobs, b -> {blur})"


def _scene_sql(
    dialect: str, seed: int, nb: int, canvas: int, canvas_h: int | None,
    lx: str, ly: str, theme: str | None, sigma: float | None = None,
) -> str:
    """`ui` (the UI parameters) and `scene`: the same one row with its
    `blobs` (`_blob_sql`) beside them and, with the shadow's `sigma`, their
    `blurs` (`_shadow_blur_sql`).

    The `COALESCE(1)` hint gives the plan a single partition without a
    shuffle, so an ORDER BY above it sorts locally instead of adding a
    range exchange (whose bounds sampling would run the pipeline twice).
    The hint is query text, scoped to this query; to DuckDB it is a
    comment. In Spark the scene over the `VALUES` row is folded into a
    local relation while the plan is optimized."""
    blobs = _blob_sql(dialect, canvas, canvas_h or canvas, shadow=sigma is not None)
    blurs = "" if sigma is None else f", {_shadow_blur_sql(dialect, canvas, sigma)} AS blurs"
    return f"""
WITH ui AS ({_ui_sql(dialect, seed, nb, lx, ly, theme)}),
scene AS (
  SELECT /*+ COALESCE(1) */ *{blurs}
  FROM (SELECT ui.*, {blobs} AS blobs FROM ui) s
)"""


def _scan_sql(
    dialect: str, seed: int, nb: int, canvas: int, canvas_h: int | None,
    lx: str, ly: str, theme: str | None, sigma: float | None = None,
) -> str:
    """`ui`, `scene` (`_scene_sql`) and `scan`: per raster row, its y, its
    background (lr, lg, lb) and `hits`, the blobs whose box spans it in
    depth order, each with the row's crossings (`_crossings`) in place of
    its edges — the one crossing definition that the composite and every
    per-pixel key read. With the shadow's `sigma`, also `shadows`: the
    blobs whose shifted box spans the row, with the two rows of their blur
    that the row's bilinear read uses.

    `canvas_h` mirrors the reference's non-square figure (figsize 7x10,
    app.py:121): width stays `canvas`, height becomes `canvas_h`, and both
    axes keep their own unit-interval linspace exactly as imshow stretches
    extent=[0,1,0,1] over a 7:10 figure."""
    h = canvas_h or canvas
    fn = functools.partial(synth.list_fn, dialect=dialect)
    t = fn("transform")
    struct = functools.partial(synth.struct_sql, dialect=dialect)
    get = functools.partial(synth.list_get, dialect=dialect)
    fields = ("blob_id", "depth", "col_r", "col_g", "col_b", "clo", "chi",
              "ccx", "ccy", "dmax", "lmin", "lmax")
    hit = _crossings(dialect, "b.edges", **{f: f"b.{f}" for f in fields})
    bg = f"(row / {synth.flit(h - 1)})"
    scan = dict(
        row="row", lr=f"bg_r + bg_dr * {bg}", lg=f"bg_g + bg_dg * {bg}",
        lb=f"bg_b + bg_db * {bg}", y="y",
        hits=f"{t}(filter(blobs, b -> row BETWEEN b.rlo AND b.rhi), b -> {hit})",
    )
    if sigma is not None:
        offi = synth.flit(_SHADOW_OFF * (canvas - 1))  # shift in pixel-index space
        ri = f"CAST(floor(row + {offi}) AS BIGINT) - b.rlo"
        blur = get("blurs", "b.blob_id")
        srow = struct(dict(
            a="0.25e0 * (1e0 - b.depth)", clo="b.clo", sclo="b.sclo", schi="b.schi",
            wr=f"(row + {offi} - floor(row + {offi}))",
            r0=get(blur, ri), r1=get(blur, f"{ri} + 1"),
        ))
        scan["shadows"] = f"{t}(filter(blobs, b -> row BETWEEN b.srlo AND b.srhi), b -> {srow})"
    y = synth.linspace("row", "0e0", "1e0", h)
    row = synth.let_sql(y, "y", struct(scan), dialect)
    rows = f"{t}({synth.int_list('0', str(h - 1), dialect)}, row -> {row})"
    # The raster rows are generated from one expression over the scene row,
    # so its blobs are read in place, not copied into every row.
    return f"""{_scene_sql(dialect, seed, nb, canvas, canvas_h, lx, ly, theme, sigma)},
scan AS (SELECT lx, ly, {synth.inline_sql(rows, dialect)} FROM scene)"""


def _pairs_ctes(dialect: str) -> str:
    """Per-pixel CTE prelude at the key configuration: the `scan` rows, one
    row per hit (`spans`), then one per column of the hit's box (`pairs`).
    Box rows no edge crosses stay in, so `pairs` is every pixel of every
    blob's box. Generators and projections only: no exchange."""
    t = synth.list_fn("transform", dialect)
    x = synth.linspace("i", "0e0", "1e0", CANVAS)
    point = synth.struct_sql(dict(col="i", x=x), dialect)
    cols = f"{t}({synth.int_list('clo', 'chi', dialect)}, i -> {point})"
    # Catalyst infers `size(column) > 0` from an `inline(column)`. On a
    # computed column it would push that Filter down through the projections
    # and inline the column's definition into it; `hits` is the output of
    # the generator below, so the Filter stays above it. `inline` also emits
    # each pixel's x with its column, so no projection is left over it.
    return f"""{_scan_sql(dialect, SEED, NB, CANVAS, None, _LX, _LY, None)},
spans AS (SELECT row, y, lx, ly, {synth.inline_sql("hits", dialect)} FROM scan),
pairs AS (SELECT s.*, {synth.inline_sql(cols, dialect)} FROM spans s)"""


def _mask_ctes(dialect: str, per_edge: bool = False) -> str:
    """`mask` on top of `_pairs_ctes`: each pixel's containment as `inside`
    and as the double `mask_f`, by its row's crossings (`_inside`) or, with
    `per_edge`, by testing it against each edge spanning its row. Both make
    the same float comparisons, so both give the same mask."""
    if per_edge:
        inside = _odd(dialect, "redges", f"e -> x < {_XCROSS}")
    else:
        inside = _inside(dialect, "xs", "x")
    return f"""{_pairs_ctes(dialect)},
mask AS (
  SELECT *, CASE WHEN inside THEN 1e0 ELSE 0e0 END AS mask_f
  FROM (SELECT p.*, {inside} AS inside FROM pairs p) c
)"""


def _shade_sql(x: str, y: str, b: str = "") -> str:
    """A blob's shade at pixel (x, y) (app.py:70-78): the radial falloff
    from its centroid and the light along (lx, ly) (sliders at
    app.py:109-110), each normalized over the blob's box. `b` prefixes the
    blob's fields (ccx, ccy, dmax, lmin, lmax)."""
    dx, dy = f"({x} - {b}ccx)", f"({y} - {b}ccy)"
    radial = _clip01(f"1e0 - sqrt({dx} * {dx} + {dy} * {dy}) / {b}dmax")
    light_n = f"({dx} * lx + {dy} * ly - {b}lmin) / ({b}lmax - {b}lmin + 1e-9)"
    return f"(0.3e0 + 0.7e0 * (0.5e0 * {radial} + 0.5e0 * {light_n}))"


def _shaded_sql(dialect: str) -> str:
    """Mask + shading + alpha (app.py:68-85) on top of `_mask_ctes`."""
    return f"""{_mask_ctes(dialect)},
shaded AS (
  SELECT blob_id, row, col, inside, mask_f, depth,
    {_clip01("col_r * shade")} AS pr,
    {_clip01("col_g * shade")} AS pg,
    {_clip01("col_b * shade")} AS pb,
    mask_f * (0.4e0 + 0.6e0 * depth) AS alpha
  FROM (SELECT m.*, {_shade_sql("x", "y")} AS shade FROM mask m) s
)"""


# ---------------------------------------------------------------------------
# filt_point_in_polygon — contains_points (app.py:44-45) as edge-crossing
# parity: join + aggregate, no UDF, fully oracle-checkable.
# ---------------------------------------------------------------------------


def _pip_sql(dialect: str, per_edge: bool = False) -> str:
    return (
        _mask_ctes(dialect, per_edge)
        + "\nSELECT blob_id, row, col, inside FROM mask ORDER BY blob_id, row, col"
    )


@register(
    "filt_point_in_polygon",
    oracle=_pip_sql("duckdb", per_edge=True),
    doc="Point-in-polygon containment (app.py:44-45) as even-odd ray casting "
    "— per pixel, the crossing test against each edge spanning its row; "
    "relational arrays, not a UDF.",
    tags=("filter", "generative", "bench"),
)
def filt_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_pip_sql("spark", per_edge=True))


@register(
    "filt_pip_scanline",
    oracle=_pip_sql("duckdb"),
    doc="Scanline rasterization: each raster row's edge x-intersections "
    "computed once, each pixel counts those right of it — identical "
    "even-odd mask to the per-pixel test (scale path).",
    tags=("filter", "generative", "scale"),
)
def filt_pip_scanline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_pip_sql("spark"))


# ---------------------------------------------------------------------------
# filt_mask_apply — bool mask as multiplicative alpha gate (app.py:68,81).
# ---------------------------------------------------------------------------


def _mask_apply_sql(dialect: str) -> str:
    return (
        _shaded_sql(dialect)
        + f"\nSELECT blob_id, row, col, {synth.q6('alpha')} AS alpha "
        "FROM shaded ORDER BY blob_id, row, col"
    )


@register(
    "filt_mask_apply",
    oracle=_mask_apply_sql("duckdb"),
    doc="Mask as multiplicative alpha gate: mask_f·(0.4+0.6·depth) "
    "(app.py:68,81).",
    tags=("filter", "generative"),
)
def filt_mask_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_mask_apply_sql("spark"))


# ---------------------------------------------------------------------------
# win_conv2d_separable — the separable Gaussian shadow blur (app.py:31-37,
# 87-91): two 1-D window passes over the mask field, zero-padded edges.
# ---------------------------------------------------------------------------

_BLUR_SIGMA = 2.0


def _blur_terms(read, sigma: float = _BLUR_SIGMA) -> str:
    """Σ w·read(off) over the Gaussian taps, added left to right. `read`
    gives the value `off` steps along the pass, 0 past the box's edge. One
    tap sum serves the window passes and the shadow's array passes, so
    both add the same doubles in the same order."""
    terms = [f"{synth.flit(w)} * {read(off)}" for off, w in synth.gaussian_kernel(sigma)]
    return "(" + " + ".join(terms) + ")"


def _window_read(value: str, part: str, order: str):
    """Tap reader of a window pass: `value` `off` rows along `order`."""
    def read(off: int) -> str:
        fn = "lead" if off >= 0 else "lag"
        return (
            f"coalesce({fn}({value}, {abs(off)}) "
            f"OVER (PARTITION BY {part} ORDER BY {order}), 0e0)"
        )

    return read


def _blur_sql(dialect: str) -> str:
    pass1 = _blur_terms(_window_read("mask_f", "blob_id, row", "col"))
    pass2 = _blur_terms(_window_read("blur1", "blob_id, col", "row"))
    return f"""{_mask_ctes(dialect)},
pass1 AS (
  SELECT blob_id, row, col, {pass1} AS blur1 FROM mask
),
pass2 AS (
  SELECT blob_id, row, col, {pass2} AS blur2 FROM pass1
)
SELECT blob_id, row, col, {synth.q6("blur2")} AS shadow
FROM pass2 ORDER BY blob_id, row, col
"""


@register(
    "win_conv2d_separable",
    oracle=_blur_sql("duckdb"),
    doc="Separable 2-D Gaussian blur of the blob mask as two 1-D window "
    "passes (app.py:31-37; shadow at 87-91) — the hand-applied operator "
    "factorization kept as query formulation (SURVEY §4.1).",
    tags=("window", "generative", "bench"),
)
def win_conv2d_separable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_blur_sql("spark"))


# ---------------------------------------------------------------------------
# udf_rowwise_lambda — the reference's own "UDF" shape: np.apply_along_axis
# (lambda row: np.convolve(row, k, 'same')) at app.py:35-36, re-expressed as
# an Arrow-batched grouped transform (one raster row per group — NOT
# row-at-a-time Python, SURVEY §4.2). Oracle = the relational window-pass
# blur (pass 1), so the NumPy convolve and the lead/lag SQL cross-check.
# ---------------------------------------------------------------------------


def _blur_pass1_oracle(dialect: str) -> str:
    pass1 = _blur_terms(_window_read("mask_f", "blob_id, row", "col"))
    return f"""{_mask_ctes(dialect)}
SELECT blob_id, row, col, {synth.q6(pass1)} AS blur1
FROM mask ORDER BY blob_id, row, col
"""


@register(
    "udf_rowwise_lambda",
    oracle=_blur_pass1_oracle("duckdb"),
    doc="Row-wise convolution lambda (np.apply_along_axis + np.convolve "
    "'same', app.py:35-36) as applyInPandas per raster row, cross-checked "
    "against the lead/lag window-pass oracle.",
    tags=("udf", "generative"),
)
def udf_rowwise_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    mask = spark.sql(
        _mask_ctes("spark") + "\nSELECT blob_id, row, col, mask_f FROM mask"
    )
    taps = synth.gaussian_kernel(_BLUR_SIGMA)
    kernel = [w for _, w in taps]

    def convolve_row(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("col")
        x = pdf["mask_f"].to_numpy()
        # 'same'-mode correlation accumulated in the SAME tap order as the
        # SQL lead/lag term sum (symmetric kernel → convolution ≡
        # correlation), so float additions are bit-identical to the oracle.
        acc = np.zeros_like(x)
        radius = (len(kernel) - 1) // 2
        for idx, w in enumerate(kernel):
            off = idx - radius
            shifted = np.zeros_like(x)
            if off >= 0:
                shifted[: len(x) - off] = x[off:]
            else:
                shifted[-off:] = x[: len(x) + off]
            acc = acc + w * shifted
        return pd.DataFrame(
            {
                "blob_id": pdf["blob_id"].to_numpy(),
                "row": pdf["row"].to_numpy(),
                "col": pdf["col"].to_numpy(),
                "blur1": np.floor(acc * 1e6 + 0.5) / 1e6,  # q6
            }
        )

    return (
        mask.groupBy("blob_id", "row")
        .applyInPandas(convolve_row, "blob_id bigint, row bigint, col bigint, blur1 double")
        .orderBy("blob_id", "row", "col")
    )


# ---------------------------------------------------------------------------
# gen_poster_bg_colormap — the colormap the reference ACTUALLY uses for the
# background gradient (app.py:133): imshow(cmap="coolwarm" if theme=="cool"
# else "Wistia", alpha=0.2) over the white figure, fed linspace(0,1,600)
# (app.py:132). `coolwarm` is Moreland's smooth diverging map ("Diverging
# Color Maps for Scientific Visualization", 2009) as the 33-point float
# table matplotlib ships; `Wistia` is a 5-hex-anchor linear map (Wistia
# colorblind palette). Both are DATA (literal anchor tables), interpolated
# exactly the way matplotlib renders them: a 256-entry LUT sampled at
# j/255 by piecewise-linear interpolation of the evenly spaced anchors,
# indexed with j = min(floor(t·256), 255). Same literal-table discipline
# as the IVF centroids (similarity.py:_centroid_values) — the anchors ride
# in the query text, the per-row work is a 2-anchor join + one fused
# arithmetic expression, no shuffle beyond the broadcast-sized anchor dim.
# ---------------------------------------------------------------------------

# matplotlib _cm.py `_coolwarm_data`, 33 evenly spaced anchors (BSD data).
_CMAP_COOLWARM = [
    (0.2298057, 0.298717966, 0.753683153),
    (0.26623388, 0.353094838, 0.801466763),
    (0.30386891, 0.406535296, 0.84495867),
    (0.342804478, 0.458757618, 0.883725899),
    (0.38301334, 0.50941904, 0.917387822),
    (0.424369608, 0.558148092, 0.945619588),
    (0.46666708, 0.604562568, 0.968154911),
    (0.509635204, 0.648280772, 0.98478814),
    (0.552953156, 0.688929332, 0.995375608),
    (0.596262162, 0.726149107, 0.999836203),
    (0.639176211, 0.759599947, 0.998151185),
    (0.681291281, 0.788964712, 0.990363227),
    (0.722193294, 0.813952739, 0.976574709),
    (0.761464949, 0.834302879, 0.956945269),
    (0.798691636, 0.849786142, 0.931688648),
    (0.833466556, 0.860207984, 0.901068838),
    (0.865395197, 0.86541021, 0.865395561),
    (0.897787179, 0.848937047, 0.820880546),
    (0.924127593, 0.827384882, 0.774508472),
    (0.944468518, 0.800927443, 0.726736146),
    (0.958852946, 0.769767752, 0.678007945),
    (0.96732803, 0.734132809, 0.628751763),
    (0.969954137, 0.694266682, 0.579375448),
    (0.966811177, 0.650421156, 0.530263762),
    (0.958003065, 0.602842431, 0.481775914),
    (0.943660866, 0.551750968, 0.434243684),
    (0.923944917, 0.49730856, 0.387970225),
    (0.89904617, 0.439559467, 0.343229596),
    (0.869186849, 0.378313092, 0.300267182),
    (0.834620542, 0.312874446, 0.259301199),
    (0.795631745, 0.24128379, 0.220525627),
    (0.752534934, 0.157246067, 0.184190262),
    (0.705673158, 0.01555616, 0.150232812),
]

# Wistia's 5 hex anchors ('#e4ff7a', '#ffe81a', '#ffbd00', '#ffa000',
# '#fc7b03') as exact /255 floats.
_CMAP_WISTIA = [
    (228 / 255, 255 / 255, 122 / 255),
    (255 / 255, 232 / 255, 26 / 255),
    (255 / 255, 189 / 255, 0 / 255),
    (255 / 255, 160 / 255, 0 / 255),
    (252 / 255, 123 / 255, 3 / 255),
]

_GRAD_ROWS = 600  # np.linspace(0, 1, 600), app.py:132
_LUT_N = 256  # matplotlib default colormap LUT resolution


def _cmap_anchor_values() -> str:
    """(cmap, k, ar, ag, ab) literal anchor table, both dialects."""
    rows = []
    for cmap, anchors in (("coolwarm", _CMAP_COOLWARM), ("wistia", _CMAP_WISTIA)):
        for k, (r, g, b) in enumerate(anchors):
            rows.append(
                f"('{cmap}', {k}, {synth.flit(r)}, {synth.flit(g)}, {synth.flit(b)})"
            )
    vals = ", ".join(rows)
    return f"(SELECT * FROM (VALUES {vals}) AS ca(cmap, k, ar, ag, ab))"


def _bg_colormap_sql(dialect: str) -> str:
    """600-row × 3-theme colormap background: t = i/599, LUT index
    j = min(floor(t·256), 255), LUT sample position x = j/255, segment
    seg = min(floor(x·nseg), nseg−1), linear blend of anchors seg/seg+1,
    then the alpha-0.2 composite over white. Pure IEEE arithmetic over
    shared literals → bit-identical cross-engine, q6 at the boundary."""
    themes_rel = (
        "(SELECT * FROM (VALUES ('cool', 'coolwarm'), ('warm', 'wistia'), "
        "('neutral', 'wistia')) AS th(theme, cmap))"
    )
    nseg = (
        "(SELECT cmap, CAST(max(k) AS BIGINT) AS nseg "
        f"FROM {_cmap_anchor_values()} mx GROUP BY cmap)"
    )
    t = f"(i / {synth.flit(_GRAD_ROWS - 1)})"
    j = f"least(CAST(floor({t} * {synth.flit(_LUT_N)}) AS BIGINT), {_LUT_N - 1})"
    x = f"(j / {synth.flit(_LUT_N - 1)})"
    interp = {
        ch: f"(a0.a{ch} + (a1.a{ch} - a0.a{ch}) * g.frac)" for ch in ("r", "g", "b")
    }
    alpha = synth.flit(_BG_ALPHA)
    white = synth.flit(1.0 - _BG_ALPHA)
    out = ",\n  ".join(
        synth.q6(f"({white} + {alpha} * {interp[ch]})") + f" AS bg_{ch}"
        for ch in ("r", "g", "b")
    )
    return f"""
WITH grad AS (
  SELECT th.theme, th.cmap, s.i, {j} AS j
  FROM {themes_rel} th CROSS JOIN {synth.series_sql(_GRAD_ROWS, "i", dialect)} s
),
seg AS (
  SELECT g.theme, g.cmap, g.i, g.j,
    least(CAST(floor({x} * ns.nseg) AS BIGINT), ns.nseg - 1) AS k0,
    ns.nseg AS nseg
  FROM grad g JOIN {nseg} ns ON g.cmap = ns.cmap
),
pos AS (
  SELECT theme, cmap, i, k0,
    ({x} * nseg - k0) AS frac
  FROM seg
)
SELECT g.theme, g.i,
  {out}
FROM pos g
JOIN {_cmap_anchor_values()} a0 ON a0.cmap = g.cmap AND a0.k = g.k0
JOIN {_cmap_anchor_values()} a1 ON a1.cmap = g.cmap AND a1.k = g.k0 + 1
ORDER BY g.theme, g.i
"""


@register(
    "gen_poster_bg_colormap",
    oracle=_bg_colormap_sql("duckdb"),
    doc="Colormap-faithful background gradient (app.py:132-133): the "
    "coolwarm/Wistia colormaps as literal anchor tables, matplotlib-"
    "style 256-LUT sampling + piecewise-linear interpolation, alpha-0.2 "
    "composite over white — 600 gradient rows × 3 themes.",
    tags=("generative", "source"),
)
def gen_poster_bg_colormap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_bg_colormap_sql("spark"))


# ---------------------------------------------------------------------------
# sort_composite_order — painter's-algorithm alpha-over fold (app.py:137-150,
# 91-93): ordered, non-commutative; each pixel folds its layers in depth
# order, which is the order of the blob array.
# ---------------------------------------------------------------------------


def _over_sql(dialect: str, layers: str, bg: tuple[str, str, str]) -> str:
    """Alpha-over fold of the struct array `layers` (fields r, g, b, a), in
    array order, from the background colour `bg`: acc ← e·a + acc·(1−a).

    Starting from `bg` equals folding a background layer of α = 1 first
    (bg·1 + 0·0 = bg exactly), and a layer of α = 0 leaves the colour as it
    is (v·0 + acc·1 = acc in IEEE), so neither needs a case of its own."""
    blend = {ch: f"e.{ch} * e.a + acc.{ch} * (1e0 - e.a)" for ch in "rgb"}
    zero = dict(zip("rgb", bg))
    if dialect == "spark":
        return (
            f"aggregate({layers}, {synth.struct_sql(zero, dialect)}, "
            f"(acc, e) -> {synth.struct_sql(blend, dialect)})"
        )
    first = synth.struct_sql(dict(zero, a="1e0"), dialect)
    return (
        f"list_reduce(list_prepend({first}, {layers}), "
        f"(acc, e) -> {synth.struct_sql(dict(blend, a='0e0'), dialect)})"
    )


def _composite_sql(
    dialect: str,
    seed: int = SEED,
    nb: int = NB,
    canvas: int = CANVAS,
    lx: str = _LX,
    ly: str = _LY,
    theme: str | None = None,
    scanline: bool = False,
    order_by: bool = True,
    canvas_h: int | None = None,
    blur_strength: float | None = None,
) -> str:
    """Full poster composite, parameterized over the reference's UI surface
    (app.py:107-113): seed, n_blobs (1..30), light direction, background
    theme, and the shadow toggle with its blur strength (None: no shadow)
    — plus canvas resolution (width `canvas`, optional distinct height
    `canvas_h` for the 7:10 figsize, app.py:121).

    A pixel's containment reads its row's crossings in `scan` (`_scan_sql`),
    the one definition the per-pixel keys read too. `scanline` is ignored:
    it stays only because the benchmark's frozen poster workload passes it,
    and a later change to the benchmark drops it there and here."""
    # Stage shape: a gather. `scene` is one row holding every blob of the
    # render, and each `scan` row keeps the blobs whose box spans it with
    # their crossings of that row (`hits`, `_scan_sql`). Each row drops the
    # hits with no crossings; each pixel folds the layers of the blobs it is
    # inside (`_inside`), in depth order (array order), over the row's
    # background. A pixel outside every blob keeps its background: the
    # reference renders the full figure (app.py:121-133). Between `ui` and
    # the result there are only generators and projections, and the scene's
    # COALESCE(1) turns the final ORDER BY into a local sort, so a render is
    # one Spark job with no exchange, no GROUP BY and no per-pixel sort. The
    # price is one task for all pixel work, as with the single-partition
    # fold it replaces.
    #
    # With the shadow on, each blob's shadow covers its shifted box under
    # every blob: the bilinear 4-neighbour read of its blurred mask by
    # guarded 2-D index (zero outside), grey, alpha 0.25·(1−depth), folded
    # before the blob layers.
    shadow = blur_strength is not None
    if shadow and canvas_h is not None:
        raise ValueError("the shadow is drawn on a square canvas only")
    sigma = max(2.0, canvas * blur_strength) if shadow else None
    fn = functools.partial(synth.list_fn, dialect=dialect)
    t, size = fn("transform"), fn("size")
    struct = functools.partial(synth.struct_sql, dialect=dialect)
    get = functools.partial(synth.list_get, dialect=dialect)

    def let(value: str, var: str, body: str) -> str:
        return synth.let_sql(value, var, body, dialect)

    paint = let(_shade_sql("x", "y", "h."), "s", struct(dict(
        r=_clip01("h.col_r * s"), g=_clip01("h.col_g * s"), b=_clip01("h.col_b * s"),
        a="0.4e0 + 0.6e0 * h.depth",
    )))
    layers = f"{t}(filter(hs, h -> {_inside(dialect, 'h.xs', 'x')}), h -> {paint})"
    if shadow:
        offi = synth.flit(_SHADOW_OFF * (canvas - 1))
        p00, p01, p10, p11 = (
            f"coalesce({get(f'o.r{dr}', f'w.ci + {dc}')}, 0e0)"
            for dr in (0, 1) for dc in (0, 1)
        )
        sample = (
            f"(({p00} * (1e0 - w.wc) + {p01} * w.wc) * (1e0 - o.wr) + "
            f"({p10} * (1e0 - w.wc) + {p11} * w.wc) * o.wr)"
        )
        weights = struct(dict(
            ci=f"CAST(floor(col - {offi}) AS BIGINT) - o.clo",
            wc=f"(col - {offi} - floor(col - {offi}))",
        ))
        grey = let(weights, "w", let(sample, "v", struct(dict(r="v", g="v", b="v", a="o.a"))))
        shades = f"{t}(filter(shadows, o -> col BETWEEN o.sclo AND o.schi), o -> {grey})"
        layers = f"{fn('concat')}({shades}, {layers})"
    x = synth.linspace("col", "0e0", "1e0", canvas)
    px = struct(dict(col="col", px=let(x, "x", _over_sql(dialect, layers, ("lr", "lg", "lb")))))
    cols = let(
        f"filter(hits, h -> {size}(h.xs) > 0)", "hs",
        f"{t}({synth.int_list('0', str(canvas - 1), dialect)}, col -> {px})",
    )
    tail = " ORDER BY row, col" if order_by else ""
    # Each row's pixels are generated from one expression over the row, so
    # its `hits` and `shadows` are read in place, not copied into every pixel.
    return f"""{_scan_sql(dialect, seed, nb, canvas, canvas_h, lx, ly, theme, sigma)},
pixels AS (SELECT row, {synth.inline_sql(cols, dialect)} FROM scan)
SELECT row, col, {synth.q6('px.r')} AS r, {synth.q6('px.g')} AS g,
  {synth.q6('px.b')} AS b FROM pixels{tail}"""


@register(
    "sort_composite_order",
    oracle=_composite_sql("duckdb"),
    doc="Painter's-algorithm alpha-over composite as an ordered fold: per "
    "pixel, aggregate() over the layers of its row's blobs in depth order "
    "(app.py:137-150,91-93; SURVEY §7.4.1) — a gather with no shuffle. "
    "White background, blobs over in depth order.",
    tags=("sort", "generative", "bench"),
)
def sort_composite_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_composite_sql("spark"))


# The reference figure is NOT square: figsize=(7, 10) (app.py:121) with
# extent=[0,1,0,1] stretches the unit square over a 7:10 canvas. This key
# renders the composite at the true aspect (70×100 px) — width and height
# each carry their own pixel grid, all geometry stays in unit coordinates
# exactly as imshow does it.
_ASPECT_W, _ASPECT_H = 70, 100


def _aspect_sql(dialect: str) -> str:
    return _composite_sql(
        dialect, canvas=_ASPECT_W, canvas_h=_ASPECT_H, theme="cool"
    )


@register(
    "gen_poster_aspect",
    oracle=_aspect_sql("duckdb"),
    doc="Full composite at the reference's 7:10 figure aspect (figsize "
    "7×10, app.py:121): 70×100 canvas, cool theme — width/height each "
    "with their own unit-interval linspace.",
    tags=("generative", "sort"),
)
def gen_poster_aspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_aspect_sql("spark"))


# ---------------------------------------------------------------------------
# sink_display — df.show()-style sink (st.pyplot, app.py:153): the first
# rows of the composited canvas.
# ---------------------------------------------------------------------------


def _display_sql(dialect: str) -> str:
    return (
        f"SELECT * FROM ({_composite_sql(dialect)}) canvas "
        "ORDER BY row, col LIMIT 24"
    )


@register(
    "sink_display",
    oracle=_display_sql("duckdb"),
    doc="Display sink: deterministic head of the composited canvas "
    "(st.pyplot/st.caption, app.py:153,161).",
    tags=("sink", "generative"),
)
def sink_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_display_sql("spark"))


# ---------------------------------------------------------------------------
# gen_poster_caption — the seed caption (app.py:152): ax.text(0.5, 0.03,
# f"Seed: {seed}", fontsize=10, ha="center", color="gray") rasterized
# RELATIONALLY: a public-domain 5×7 LED-matrix bitmap font as a literal
# glyph table (same discipline as the colormap anchors / IVF centroids),
# the caption string laid out driver-side into a (pos, ch) table, and one
# LEFT JOIN stamping matched pixels matplotlib-'gray' (#808080) over the
# composited canvas. Scale parameter s (each font pixel → s×s block)
# mirrors fontsize-in-points under dpi scaling for the hires export.
# ---------------------------------------------------------------------------

# 5×7 font rows, MSB-left, row 0 = glyph TOP. Classic LED-matrix shapes.
_FONT_5X7 = {
    "0": ("01110", "10001", "10011", "10101", "11001", "10001", "01110"),
    "1": ("00100", "01100", "00100", "00100", "00100", "00100", "01110"),
    "2": ("01110", "10001", "00001", "00010", "00100", "01000", "11111"),
    "3": ("11111", "00010", "00100", "00010", "00001", "10001", "01110"),
    "4": ("00010", "00110", "01010", "10010", "11111", "00010", "00010"),
    "5": ("11111", "10000", "11110", "00001", "00001", "10001", "01110"),
    "6": ("00110", "01000", "10000", "11110", "10001", "10001", "01110"),
    "7": ("11111", "00001", "00010", "00100", "01000", "01000", "01000"),
    "8": ("01110", "10001", "10001", "01110", "10001", "10001", "01110"),
    "9": ("01110", "10001", "10001", "01111", "00001", "00010", "01100"),
    "S": ("01111", "10000", "10000", "01110", "00001", "00001", "11110"),
    "e": ("00000", "00000", "01110", "10001", "11111", "10000", "01110"),
    "d": ("00001", "00001", "01101", "10011", "10001", "10011", "01101"),
    ":": ("00000", "00100", "00000", "00000", "00100", "00000", "00000"),
    " ": ("00000",) * 7,
}
_CAPTION_GRAY = 128.0 / 255.0  # matplotlib named color "gray"
_GLYPH_W, _GLYPH_H, _GLYPH_PITCH = 5, 7, 6


def _glyph_values(chars: str) -> str:
    """(ch, gr, gc) lit-pixel table for the characters used."""
    rows = []
    for ch in sorted(set(chars)):
        for gr, bits in enumerate(_FONT_5X7[ch]):
            for gc, bit in enumerate(bits):
                if bit == "1":
                    rows.append(f"({ord(ch)}, {gr}, {gc})")
    vals = ", ".join(rows)
    return f"(SELECT * FROM (VALUES {vals}) AS gl(ch, gr, gc))"


def _caption_layout_values(caption: str) -> str:
    """(p, ch) character-position table for the caption string."""
    vals = ", ".join(f"({p}, {ord(ch)})" for p, ch in enumerate(caption))
    return f"(SELECT * FROM (VALUES {vals}) AS cp(p, ch))"


_CAPTION_EM_PX = 10  # fontsize 10 → 10 px/em at scale 1 (cap height ≈ 7 px,
#                      the same footprint the r4 LED-matrix layer used)


def _dejavu_caption_pixels(
    caption: str, canvas_px: int, scale: int
) -> list[tuple[int, int, float]] | None:
    """(row, col, alpha) coverage pixels for the caption rasterized from
    the REAL DejaVu Sans outlines (r6, closing VERDICT r5 missing-item 2:
    matplotlib's default font, the file the host ships at
    /usr/share/fonts/truetype/dejavu/DejaVuSans.ttf). Layout mirrors
    ax.text(0.5, 0.03, ..., ha='center', va='baseline'): the BASELINE
    sits at y=0.03 (origin lower → ascenders grow upward, descenders dip
    below), horizontal centering over the summed advance widths
    (proportional spacing, not the LED font's fixed pitch). Returns None
    when the font file is absent (portable fallback: the 5×7 bitmap)."""
    from . import ttf

    if not ttf.dejavu_available():
        return None
    px_size = _CAPTION_EM_PX * scale
    glyphs, x = [], 0
    for ch in caption:
        cov, adv, asc, _h = ttf.glyph_coverage(ch, px_size)
        glyphs.append((x, cov, asc))
        x += adv
    col0 = round((canvas_px - x) / 2)
    row_base = round(0.03 * (canvas_px - 1))  # the text BASELINE row
    acc: dict[tuple[int, int], float] = {}
    for x0, cov, asc in glyphs:
        for gr, gc, a in cov:
            py = asc - 1 - gr  # pixels above (+) / below (−) the baseline
            r, c = row_base + py, col0 + x0 + gc
            if 0 <= r < canvas_px and 0 <= c < canvas_px:
                acc[(r, c)] = max(acc.get((r, c), 0.0), a)
    return [(r, c, round(a, 6)) for (r, c), a in sorted(acc.items())]


def _caption_overlay_sql(
    dialect: str, seed: int = SEED, canvas: int = CANVAS, scale: int = 1
) -> str:
    """(row, col, a) caption pixels + coverage alpha in canvas
    coordinates. DejaVu outline coverage when the font file exists
    (driver-side rasterization → literal VALUES, same discipline as the
    colormap anchors); 5×7 LED-matrix fallback (binary alpha) otherwise.
    Layout mirrors app.py:152 either way: baseline at y=0.03, centered
    at x=0.5."""
    caption = f"Seed: {seed}"
    canvas_px = canvas * scale
    dejavu = _dejavu_caption_pixels(caption, canvas_px, scale)
    if dejavu is not None:
        vals = ", ".join(
            f"({r}, {c}, {synth.flit(a)})" for r, c, a in dejavu
        )
        return f"SELECT * FROM (VALUES {vals}) AS cap(row, col, a)"
    width = (len(caption) * _GLYPH_PITCH - 1) * scale
    col0 = round((canvas_px - width) / 2)
    row_base = round(0.03 * (canvas_px - 1))
    block = synth.series_sql(scale * scale, "blk", dialect)
    return f"""
SELECT DISTINCT
  {row_base} + ({_GLYPH_H - 1} - g.gr) * {scale}
    + CAST(floor(b.blk / {scale}) AS BIGINT) AS row,
  {col0} + (cp.p * {_GLYPH_PITCH} + g.gc) * {scale} + b.blk % {scale} AS col,
  1e0 AS a
FROM {_caption_layout_values(caption)} cp
JOIN {_glyph_values(caption)} g ON g.ch = cp.ch
CROSS JOIN {block} b
"""


def _captioned_sql(
    dialect: str,
    base_sql: str,
    seed: int = SEED,
    canvas: int = CANVAS,
    scale: int = 1,
    order_by: bool = True,
) -> str:
    """Stamp the caption over any (row, col, r, g, b) canvas relation.

    r6: anti-aliased alpha blend (matplotlib text rendering composites
    coverage-weighted gray over the background) — `out = gray·a +
    base·(1−a)` with the q6 wrap; the LED fallback's a = 1 reduces this
    to the old hard stamp exactly."""
    gray = synth.flit(_CAPTION_GRAY)
    tail = "\nORDER BY b.row, b.col" if order_by else ""

    def blend(ch: str) -> str:
        return (
            f"CASE WHEN c.row IS NOT NULL THEN "
            f"{synth.q6(f'{gray} * c.a + b.{ch} * (1e0 - c.a)')} "
            f"ELSE b.{ch} END"
        )

    return f"""
WITH cap_base AS ({base_sql}),
cap_px AS ({_caption_overlay_sql(dialect, seed, canvas, scale)})
SELECT b.row, b.col,
  {blend('r')} AS r,
  {blend('g')} AS g,
  {blend('b')} AS b
FROM cap_base b
LEFT JOIN cap_px c ON b.row = c.row AND b.col = c.col{tail}
"""


def _caption_composite_sql(dialect: str, order_by: bool = True) -> str:
    return _captioned_sql(
        dialect,
        f"SELECT row, col, r, g, b FROM ({_composite_sql(dialect, order_by=False)}) cc",
        order_by=order_by,
    )


@register(
    "gen_poster_caption",
    oracle=_caption_composite_sql("duckdb"),
    doc="Seed-caption glyph layer (app.py:152): 'Seed: 42' rasterized from "
    "a literal 5×7 bitmap-font table, centered at (0.5, 0.03), stamped "
    "matplotlib-gray over the full default composite.",
    tags=("generative", "sink"),
)
def gen_poster_caption(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stamp over the session-cached default canvas (same relation the
    # bilinear resample and hires export reuse) — the caption layer is a
    # broadcast join over it, not a reason to recomposite.
    return spark.sql(
        _captioned_sql("spark", "SELECT row, col, r, g, b FROM {canvas}"),
        canvas=_cached_canvas(spark),
    )


# ---------------------------------------------------------------------------
# udf_geom_contains — the same containment decided by an Arrow-vectorized
# pandas UDF (matplotlib contains_points analog, app.py:44), cross-checked
# against the relational ray-casting oracle per blob.
# ---------------------------------------------------------------------------


def _pip_counts_sql(dialect: str) -> str:
    return (
        _mask_ctes(dialect)
        + "\nSELECT blob_id,"
        # CAST: DuckDB's sum(int) yields HUGEINT (surfaces as float64 over
        # Arrow) while Spark yields BIGINT — cast so the value hashes agree.
        " CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,"
        " count(*) AS n_candidates FROM mask GROUP BY blob_id ORDER BY blob_id"
    )


@register(
    "udf_geom_contains",
    oracle=_pip_counts_sql("duckdb"),
    doc="Polygon containment via applyInPandas (NumPy even-odd ray casting, "
    "mirroring the SQL crossing test bit-for-bit) — the reference's "
    "contains_points UDF surface (app.py:44).",
    tags=("udf", "generative"),
)
def udf_geom_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)

    pairs = spark.sql(_pairs_ctes("spark") + "\nSELECT blob_id, row, col, x, y FROM pairs")
    verts = spark.sql(synth.boundary_sql(SEED, NB, "spark", NSAMP)).select(
        "blob_id", "k", "px", "py"
    )
    joined = pairs.join(
        F.broadcast(verts.groupBy("blob_id").agg(
            F.sort_array(F.collect_list(F.struct("k", "px", "py"))).alias("poly")
        )),
        "blob_id",
    )

    def contains(pdf: pd.DataFrame) -> pd.DataFrame:
        poly = pdf["poly"].iloc[0]
        vx = np.array([p["px"] for p in poly])
        vy = np.array([p["py"] for p in poly])
        x2, y2 = np.roll(vx, -1), np.roll(vy, -1)
        px, py = pdf["x"].to_numpy(), pdf["y"].to_numpy()
        # Same comparisons as the SQL crossing test → identical booleans.
        # (horizontal edges divide by zero → inf/nan, masked out by the
        # first clause exactly as in SQL; silence the numpy warning)
        with np.errstate(divide="ignore", invalid="ignore"):
            crosses = ((vy[None, :] > py[:, None]) != (y2[None, :] > py[:, None])) & (
                px[:, None]
                < (x2 - vx)[None, :] * (py[:, None] - vy[None, :]) / (y2 - vy)[None, :]
                + vx[None, :]
            )
        inside = (crosses.sum(axis=1) % 2) == 1
        return pd.DataFrame(
            {
                "blob_id": pdf["blob_id"],
                "n_inside": int(inside.sum()),
                "n_candidates": len(pdf),
            }
        ).iloc[:1]

    return (
        joined.groupBy("blob_id")
        .applyInPandas(contains, "blob_id bigint, n_inside bigint, n_candidates bigint")
        .orderBy("blob_id")
    )


# ---------------------------------------------------------------------------
# udf_grouped_map_render — render_blob (app.py:51-93) as a grouped-map
# transform: one PNG per blob, produced inside executors. Rows-only check
# (binary output), backstopped by pytest goldens.
# ---------------------------------------------------------------------------

_RENDER_SCHEMA = (
    "blob_id bigint, width int, height int, n_inside bigint, png binary"
)


def _render_group(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    blob_id = int(pdf["blob_id"].iloc[0])
    rows = pdf["row"].to_numpy()
    cols = pdf["col"].to_numpy()
    r0, c0 = rows.min(), cols.min()
    h = int(rows.max() - r0 + 1)
    w = int(cols.max() - c0 + 1)
    img = np.ones((h, w, 3), dtype=np.float64)
    # origin-lower → scanline flip, bbox-local (see _assemble_png_pdf)
    rr = (h - 1 - (rows - r0)).astype(int)
    cc = (cols - c0).astype(int)
    a = pdf["alpha"].to_numpy()
    for ch, col in enumerate(("pr", "pg", "pb")):
        v = pdf[col].to_numpy()
        img[rr, cc, ch] = v * a + img[rr, cc, ch] * (1.0 - a)
    buf = (np.clip(img, 0, 1) * 255).astype(np.uint8).tobytes()
    return pd.DataFrame(
        {
            "blob_id": [blob_id],
            "width": [w],
            "height": [h],
            "n_inside": [int((pdf["inside"]).sum())],
            "png": [encode_png_rgb(buf, w, h)],
        }
    )


@register(
    "udf_grouped_map_render",
    oracle=None,  # binary output → rows-only; pytest checks PNG validity
    doc="render_blob (app.py:51-93) as groupBy(blob).applyInPandas → one PNG "
    "BinaryType row per blob, encoded in-executor (pure-zlib PNG).",
    tags=("udf", "generative", "multimodal"),
)
def udf_grouped_map_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    shaded = spark.sql(
        _shaded_sql("spark")
        + "\nSELECT blob_id, row, col, inside, pr, pg, pb, alpha FROM shaded"
    )
    return (
        shaded.groupBy("blob_id")
        .applyInPandas(_render_group, _RENDER_SCHEMA)
        .orderBy("blob_id")
    )


# ---------------------------------------------------------------------------
# sink_binary_export — the poster-level PNG export (app.py:156-159): the
# whole composited canvas as ONE multimodal row (NS `ns_multimodal_cols`
# depends on this shape).
# ---------------------------------------------------------------------------


def _assemble_png_pdf(pdf: pd.DataFrame, seed: int, nb: int) -> pd.DataFrame:
    """Canvas rows (row, col, r, g, b) → one (seed, n_blobs, width, height,
    png) row — the shared export assembly for both binary sinks.

    Canvas row 0 is y = 0 (the reference renders origin='lower',
    app.py:133) while PNG scanlines run top-down, so the assembly writes
    row r at scanline h−1−r — the exported image matches the reference
    figure's orientation (r4 fix; previously the export was a vertical
    mirror, invisible until the caption text layer made it legible)."""
    import numpy as np

    pdf = pdf.sort_values(["row", "col"])
    h = int(pdf["row"].max()) + 1
    w = int(pdf["col"].max()) + 1
    img = np.ones((h, w, 3), dtype=np.float64)
    for ch_i, ch in enumerate(("r", "g", "b")):
        img[h - 1 - pdf["row"].to_numpy(), pdf["col"].to_numpy(), ch_i] = (
            pdf[ch].to_numpy()
        )
    png = encode_png_rgb((np.clip(img, 0, 1) * 255).astype(np.uint8).tobytes(), w, h)
    return pd.DataFrame(
        {"seed": [seed], "n_blobs": [nb], "width": [w], "height": [h], "png": [png]}
    )


@register(
    "sink_binary_export",
    oracle=None,  # binary output → rows-only; pytest parses IHDR + pixel hash
    doc="PNG export sink (app.py:156-159): composited canvas → single "
    "BinaryType row (seed, n_blobs, width, height, png).",
    tags=("sink", "generative", "multimodal"),
)
def sink_binary_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    # r4: the export now carries the reference's seed-caption text layer
    # (app.py:152) — stamped over the session-cached canvas, same relation
    # as gen_poster_caption.
    canvas = spark.sql(
        _captioned_sql("spark", "SELECT row, col, r, g, b FROM {canvas}"),
        canvas=_cached_canvas(spark),
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        return _assemble_png_pdf(pdf, SEED, NB)

    return (
        canvas.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(assemble, "seed bigint, n_blobs int, width int, height int, png binary")
    )


# ---------------------------------------------------------------------------
# proj_resample_bilinear — the dpi=300 export re-rasterization (app.py:157:
# savefig upsamples the canvas; imshow interpolation="bilinear" at 93 is the
# same resampling kernel). Relational form: the output grid computes its
# fractional source coordinate arithmetically and gathers the 4 neighbor
# pixels with equi-joins — a scatter-free, shuffle-on-(row,col) plan that
# scales to any resolution. Align-corners mapping: src = out·(H-1)/(Ho-1).
# ---------------------------------------------------------------------------

_RS_SCALE = 3
_RS_OUT = CANVAS * _RS_SCALE


def _resample_sql(dialect: str, canvas_ref: str) -> str:
    h1 = synth.flit(CANVAS - 1)
    o1 = synth.flit(_RS_OUT - 1)
    fr = f"(orow * {h1} / {o1})"
    fc = f"(ocol * {h1} / {o1})"

    def blend(ch: str) -> str:
        return (
            f"((p00.{ch} * (1e0 - wc) + p01.{ch} * wc) * (1e0 - wr) + "
            f"(p10.{ch} * (1e0 - wc) + p11.{ch} * wc) * wr)"
        )

    return f"""
WITH canvas AS ({canvas_ref}),
og AS (
  SELECT r.orow, c.ocol,
    CAST(floor({fr}) AS BIGINT) AS r0,
    least(CAST(floor({fr}) AS BIGINT) + 1, {CANVAS - 1}) AS r1,
    ({fr} - floor({fr})) AS wr,
    CAST(floor({fc}) AS BIGINT) AS c0,
    least(CAST(floor({fc}) AS BIGINT) + 1, {CANVAS - 1}) AS c1,
    ({fc} - floor({fc})) AS wc
  FROM {synth.series_sql(_RS_OUT, "orow", dialect)} r
  CROSS JOIN {synth.series_sql(_RS_OUT, "ocol", dialect)} c
)
SELECT og.orow AS row, og.ocol AS col,
  {synth.q6(blend("r"))} AS r,
  {synth.q6(blend("g"))} AS g,
  {synth.q6(blend("b"))} AS b
FROM og
JOIN canvas p00 ON og.r0 = p00.row AND og.c0 = p00.col
JOIN canvas p01 ON og.r0 = p01.row AND og.c1 = p01.col
JOIN canvas p10 ON og.r1 = p10.row AND og.c0 = p10.col
JOIN canvas p11 ON og.r1 = p11.row AND og.c1 = p11.col
ORDER BY row, col
"""


def _cached_canvas(spark: SparkSession) -> DataFrame:
    """Default-parameter composited canvas, persisted per session: the
    4-neighbor gather references it 4 times and Catalyst inlines CTEs."""
    def build():
        return spark.sql(_composite_sql("spark", order_by=False)).coalesce(4)

    return checkpointed(spark, "canvas", build)


@register(
    "proj_resample_bilinear",
    oracle=_resample_sql("duckdb", _composite_sql("duckdb", order_by=False)),
    doc="Bilinear canvas upsample ×3 (the dpi=300 export re-rasterization, "
    "app.py:157, and imshow's bilinear kernel, app.py:93) as a 4-neighbor "
    "equi-join gather over the composited poster — fully relational, "
    "oracle-checked.",
    tags=("projection", "generative", "scale"),
)
def proj_resample_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _resample_sql("spark", "SELECT row, col, r, g, b FROM {canvas}"),
        canvas=_cached_canvas(spark),
    )


# ---------------------------------------------------------------------------
# sink_binary_export_hires — the dpi=300 download path (app.py:156-159):
# savefig re-rasterizes the figure at ~3× the canvas resolution before
# encoding; this sink runs the relational bilinear upsample and encodes the
# 288×288 result in-executor. Rows-only (binary), backstopped by pytest
# PNG-dimension checks; the resample math itself is oracle-checked via
# proj_resample_bilinear.
# ---------------------------------------------------------------------------


@register(
    "sink_binary_export_hires",
    oracle=None,  # binary output → rows-only; resample stage oracle-checked
    doc="dpi=300-style PNG export (app.py:156-159): composited canvas → "
    "relational bilinear ×3 upsample → single BinaryType row "
    "(seed, n_blobs, width, height, png).",
    tags=("sink", "generative", "multimodal"),
)
def sink_binary_export_hires(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    # Caption stamped AFTER the upsample at scale 3 (fontsize is in points:
    # at 3× dpi the glyphs get 3× the pixels, not a blurry upsample of the
    # low-res stamp — matching savefig's vector-text rasterization).
    hires = spark.sql(
        _captioned_sql(
            "spark",
            _resample_sql("spark", "SELECT row, col, r, g, b FROM {canvas}"),
            scale=3,
        ),
        canvas=_cached_canvas(spark),
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        return _assemble_png_pdf(pdf, SEED, NB)

    return (
        hires.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(assemble, "seed bigint, n_blobs int, width int, height int, png binary")
    )


# ---------------------------------------------------------------------------
# sink_binary_export_tiled — the scale-safe form of the PNG export sink:
# the single-file path funnels the whole canvas through ONE applyInPandas
# task (inherent for one output file; fine at 96², wrong at 10⁵²). Here the
# canvas is partitioned into _TILE×_TILE tiles and each tile encodes ITS OWN
# PNG row in parallel (the udf_grouped_map_render per-group shape) — at
# 100 TB this is one task per tile with no single-task assembly anywhere;
# a consumer stitches tiles positionally (pytest proves the stitch equals
# the single-file PNG bit-for-bit).
# ---------------------------------------------------------------------------

_TILE = 32  # tile edge; CANVAS=96 → 3×3 tiles


def _assemble_tile_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """One tile's canvas rows → one (tile_row, tile_col, row0, col0, width,
    height, png) row. Missing pixels (never happens on the dense canvas,
    but tiles must not rely on it) default to the white background."""
    import numpy as np

    tr = int(pdf["tile_row"].iloc[0])
    tc = int(pdf["tile_col"].iloc[0])
    r0, c0 = tr * _TILE, tc * _TILE
    img = np.ones((_TILE, _TILE, 3), dtype=np.float64)
    # Same origin-lower → scanline flip as _assemble_png_pdf, tile-local:
    # canvas row r lands on tile scanline (r0 + _TILE − 1 − r), and the
    # published row0 is the tile's position in the FLIPPED full image so a
    # consumer stitches tiles positionally without knowing the convention.
    rows = r0 + _TILE - 1 - pdf["row"].to_numpy()
    cols = pdf["col"].to_numpy() - c0
    for ch_i, ch in enumerate(("r", "g", "b")):
        img[rows, cols, ch_i] = pdf[ch].to_numpy()
    png = encode_png_rgb(
        (np.clip(img, 0, 1) * 255).astype(np.uint8).tobytes(), _TILE, _TILE
    )
    return pd.DataFrame(
        {
            "tile_row": [tr],
            "tile_col": [tc],
            "row0": [CANVAS - r0 - _TILE],
            "col0": [c0],
            "width": [_TILE],
            "height": [_TILE],
            "png": [png],
        }
    )


@register(
    "sink_binary_export_tiled",
    oracle=None,  # binary output → rows-only; pytest stitches == single PNG
    doc="Tiled PNG export sink (app.py:156-159, scale-safe form): canvas "
    "partitioned into 32×32 tiles, one applyInPandas task per tile emits "
    "one PNG row — no single-task canvas assembly; pytest stitches the "
    "tiles bit-identical to sink_binary_export's output.",
    tags=("sink", "generative", "multimodal", "scale"),
)
def sink_binary_export_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    canvas = spark.sql(
        _captioned_sql(
            "spark", "SELECT row, col, r, g, b FROM {canvas}",
            order_by=False,
        ),
        canvas=_cached_canvas(spark),
    )
    tiled = canvas.withColumn(
        "tile_row", (F.col("row") / _TILE).cast("int")
    ).withColumn("tile_col", (F.col("col") / _TILE).cast("int"))
    return (
        tiled.groupBy("tile_row", "tile_col")
        .applyInPandas(
            _assemble_tile_pdf,
            "tile_row int, tile_col int, row0 int, col0 int, "
            "width int, height int, png binary",
        )
        .orderBy("tile_row", "tile_col")
    )


# ---------------------------------------------------------------------------
# gen_poster_shadow — shadow_toggle=True compositing (app.py:87-91): each
# blob casts a shadow layer = separable Gaussian blur of its mask
# (σ = max(2, canvas·blur_strength), app.py:88), drawn OFFSET by
# (+0.02, −0.02) in unit coords (the shifted imshow extent at 90), gray
# colormap (v,v,v), constant layer alpha 0.25·(1−depth), at zorder 0 —
# under every blob layer (zorder 1). The blur is built on arrays per blob
# (`_blob_sql`): the mask from each raster row's edge crossings and the
# two passes as array transforms. `_composite_sql` reads it as a bilinear
# 4-neighbour sample per pixel of the shifted box, and folds those layers
# before the blob layers. Fully relational, oracle-checked.
# ---------------------------------------------------------------------------

_BLUR_STRENGTH = 0.015  # app.py:113 default


@register(
    "gen_poster_shadow",
    oracle=_composite_sql("duckdb", blur_strength=_BLUR_STRENGTH),
    doc="Full composite WITH shadows (shadow_toggle=True, app.py:87-91,112): "
    "per-blob separable-blur shadow on arrays, bilinear-sampled at the "
    "(+0.02, −0.02) extent offset, gray color, constant alpha "
    "0.25·(1−depth), composited at zorder 0 under all blob layers: folded "
    "before them in each pixel's alpha-over fold (NS-free reference parity).",
    tags=("generative", "param"),
)
def gen_poster_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_composite_sql("spark", blur_strength=_BLUR_STRENGTH))


# σ = max(2, canvas·blur_strength) (app.py:88,113): at the DEFAULT point
# 96·0.015 = 1.44 → the floor wins and σ collapses to 2 — blur_strength is
# dead there. This second oracle point (0.05 → σ = 4.8) drives the kernel
# width through the parameter for real, so the blur taps, the normalization
# and the frame bounds are all exercised at a non-degenerate σ.
_BLUR_POINT = 0.05


@register(
    "gen_poster_shadow_blur",
    oracle=_composite_sql("duckdb", blur_strength=_BLUR_POINT),
    doc="gen_poster_shadow at blur_strength=0.05 (slider point, app.py:113): "
    "σ = 4.8 instead of the floor-clamped default 2 — oracle parity with a "
    "genuinely wider separable kernel.",
    tags=("generative", "param"),
)
def gen_poster_shadow_blur(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_composite_sql("spark", blur_strength=_BLUR_POINT))


# ---------------------------------------------------------------------------
# udtf_explode_gen — generator/table-function surface: posexplode of split
# tokens (REF-ANALOG of the per-blob 280-sample expansion, app.py:141).
# ---------------------------------------------------------------------------


def _explode_sql(dialect: str) -> str:
    if dialect == "spark":
        return """
SELECT doc_id, pos, token
FROM (SELECT doc_id, posexplode(split(text, ' ')) AS (pos, token)
      FROM {documents} WHERE doc_id < 20) t
ORDER BY doc_id, pos
"""
    return """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 20
),
e AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS p FROM t
)
SELECT doc_id, p - 1 AS pos, toks[p] AS token FROM e ORDER BY doc_id, pos
"""


@register(
    "udtf_explode_gen",
    oracle=_explode_sql("duckdb"),
    doc="Generator/UDTF surface: posexplode(split(text)) row expansion "
    "(REF-ANALOG of the angle-sample expansion, app.py:141).",
    tags=("udtf", "ns"),
)
def udtf_explode_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import load_table

    documents = load_table(spark, sf_dir, "documents")
    return spark.sql(_explode_sql("spark"), documents=documents)


# ---------------------------------------------------------------------------
# gen_poster_full — the reference's ACTUAL workload shape for benchmarking:
# n_blobs=14 (app.py:108 default), 400-px canvas (app.py:66), 280 boundary
# samples, full rasterize→shade→composite. Rows-only (correctness of every
# stage is already oracle-checked at the 96-px configuration) — this key exists to
# measure throughput against the reference's ~5×10⁷ element-ops/run
# (BASELINE.md) and to prove the plan scales with resolution.
# ---------------------------------------------------------------------------


def _poster_full_sql() -> str:
    return _composite_sql("spark", seed=SEED, nb=14, canvas=400, order_by=False)


@register(
    "gen_poster_full",
    oracle=None,  # bench-scale config; stages oracle-checked at 96px
    doc="Full reference-scale poster: 14 blobs × 400×400 canvas, complete "
    "rasterize→shade→composite plan (bench workload vs BASELINE.md's "
    "~5×10⁷ element-ops/run).",
    tags=("generative", "bench", "scale"),
)
def gen_poster_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_poster_full_sql())


# ---------------------------------------------------------------------------
# gen_poster_param — the reference's UI parameter surface (app.py:107-113)
# exercised at NON-default values: a user's first act is changing the seed,
# so the engine proves the whole pipeline is a function of (seed, n_blobs,
# light, theme), not a plan with baked-in constants. Oracle-checked at 64 px
# (every stage identical to the default-parameter keys, only parameters
# differ).
# ---------------------------------------------------------------------------

_PARAM_POINT = dict(seed=7, nb=9, canvas=64, lx="0.4e0", ly="-0.7e0", theme="warm")


@register(
    "gen_poster_param",
    oracle=_composite_sql("duckdb", **_PARAM_POINT),
    doc="Parameterized poster (app.py:107-113 UI surface) at non-default "
    "point: seed=7, n_blobs=9, light=(0.4,-0.7), theme=warm gradient "
    "background, 64 px — full composite, oracle-checked.",
    tags=("generative", "param"),
)
def gen_poster_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_composite_sql("spark", **_PARAM_POINT))
