"""Deterministic cross-engine synthetic-data expressions (SURVEY.md §1.2, §7.4.2).

The reference seeds `random` / `np.random` (app.py:117-118) and draws blob
parameters with `random.uniform` (app.py:138-140) and boundary noise with
`np.random.rand` (app.py:142). NumPy bit-parity is impossible in SQL, so the
engine's scale-path generator is a 31-bit LCG written in *pure integer
arithmetic* that evaluates identically in Spark SQL and DuckDB — every
intermediate stays < 2^62, so no overflow under Spark ANSI mode, and `%` on
non-negative ints agrees across engines. This gives exact (bit-identical)
uniform draws on both sides of the correctness gate.

These helpers return SQL *text* consumed via `spark.sql`/`F.expr` on the
Spark side and embedded verbatim into the DuckDB oracle SQL — one formula,
two engines, zero drift.

CROSS-ENGINE LITERAL RULE: float literals must be written in exponent
notation (`0.5e0`), because Spark parses plain decimal literals (`0.5`) as
DECIMAL while DuckDB parses them as DOUBLE — decimal arithmetic then
propagates through Spark's type rules and the two engines compute different
things. `flit()` enforces this; never interpolate a bare float repr.
"""

from __future__ import annotations

import math

M31 = 2_147_483_648  # 2**31
LCG_A = 1_103_515_245
LCG_C = 12_345

TWO_PI = "6.283185307179586e0"


def flit(x: float) -> str:
    """Float literal both engines parse as DOUBLE (shortest-roundtrip repr)."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s) else s + "e0"


def q6(expr: str, nd: int = 6) -> str:
    """Cross-engine float quantizer: floor(x·10^nd + 0.5)/10^nd.

    Spark's round() (exact BigDecimal HALF_UP) and DuckDB's round()
    (std::round(x·10^d)/10^d) disagree near decimal midpoints; this formula is
    pure IEEE multiply/add/floor/divide, so identical double in → identical
    double out on BOTH engines, which is what the value-hash gate needs.

    MAGNITUDE GUARD (r4 adversarial gate): Spark's floor(DOUBLE) returns
    BIGINT — it SATURATES at 2^63−1 for |x·10^nd| beyond int64 and maps
    NaN to 0 — while DuckDB's floor stays DOUBLE (and its BIGINT cast of
    NaN raises). Dirty real-world values (±1e300, ±Inf, NaN in an events
    stream) therefore diverged inside the quantizer itself. Values with
    |x| ≥ 1e9 pass through UNQUANTIZED: micro-unit rounding is meaningless
    there anyway (doubles are >100 ulp apart past 2^53/10^6 ≈ 9e9), and
    the CASE's `abs(x) < bound` comparison is false for NaN in both
    engines, so NaN/±Inf also pass through identically.
    """
    scale = flit(10**nd)
    bound = flit(10 ** (15 - nd))
    return (
        f"(CASE WHEN abs({expr}) < {bound} "
        f"THEN floor(({expr}) * {scale} + 0.5e0) / {scale} "
        f"ELSE ({expr}) END)"
    )


def sat(expr: str, bound: float) -> str:
    """Saturating clamp to [−bound, bound] with NaN→0, shared text both
    dialects — the front gate for exact-integer (micro/milli-unit) plans
    whose BIGINT casts would otherwise overflow on dirty real-world
    values (±1e300, ±Inf, NaN in an event stream; r4 adversarial gate).
    Explicit CASE order: isnan() MUST be the first branch — both Spark
    and DuckDB order NaN GREATER than every value in comparisons (non-IEEE
    total order), so a leading `x > bound` test would silently saturate
    NaN to +bound instead of 0 (r4 ADVICE). With isnan first, NaN→0 in
    both engines by the shared branch, not by any NaN-ordering accident."""
    b = flit(bound)
    return (
        f"(CASE WHEN isnan({expr}) THEN 0e0 "
        f"WHEN ({expr}) > {b} THEN {b} "
        f"WHEN ({expr}) < -{b} THEN -{b} ELSE ({expr}) END)"
    )


def sum_micro(expr: str, bound: float = 1e6) -> str:
    """Order-free cross-engine float SUM (r6, ADVICE r5): q6 over a float
    sum is data-dependent flaky — Spark's parallel accumulation and
    DuckDB's sequential sum can straddle a 1e-6 quantization boundary.
    Quantize PER TERM to saturating BIGINT micro-units instead
    (floor(sat(x)·10⁶ + 0.5)), sum exactly in int64 (commutative), divide
    once: identical BIGINT in → identical DOUBLE out, by construction.
    Worst case |term| = bound·10⁶; keep n·bound·10⁶ inside 9.2e18."""
    return (
        f"(CAST(coalesce(sum(CAST(floor({sat(expr, bound)} * 1000000e0 "
        "+ 0.5e0) AS BIGINT)), 0) AS DOUBLE) / 1000000e0)"
    )


def sum_micro_int(expr: str, bound: float = 1e6) -> str:
    """BIGINT half of :func:`sum_micro`: the exact per-term-quantized
    int64 sum, kept as an integer so DOWNSTREAM accumulation (window
    frame sums over group totals, multi-level rollups) stays commutative
    too. A DOUBLE frame sum over values on the 1e-6 grid is still IEEE
    accumulation-order-dependent (ADVICE r6) — only the integer form is
    order-free by construction. Divide once at the very end."""
    return (
        f"coalesce(sum(CAST(floor({sat(expr, bound)} * 1000000e0 "
        "+ 0.5e0) AS BIGINT)), 0)"
    )


def lcg_state(key: int, seed: int) -> int:
    """Python form of `lcg_u`'s first draw (draw=0) as its integer state
    x in [0, M31): the replay Python readers use; `x / M31` is the
    uniform, bit-identical to the SQL text's."""
    x = (key * 1000003 + seed * 7919 + LCG_C) % M31
    return (LCG_A * x + LCG_C) % M31


def lcg_u(key_expr: str, seed: int, draw: int = 0) -> str:
    """Uniform [0,1) double: `draw`-th LCG output for integer key `key_expr`."""
    x = f"((({key_expr}) * 1000003 + {seed} * 7919 + {LCG_C}) % {M31})"
    for _ in range(draw + 1):
        x = f"(({LCG_A} * {x} + {LCG_C}) % {M31})"
    return f"({x} / {flit(M31)})"


def uniform(key_expr: str, seed: int, draw: int, lo: float, hi: float) -> str:
    """Uniform [lo, hi) — mirrors random.uniform at app.py:138-140."""
    return f"({flit(lo)} + {lcg_u(key_expr, seed, draw)} * {flit(hi - lo)})"


def linspace(i_expr: str, lo: str, hi: str, n: int) -> str:
    """Evenly spaced series value — np.linspace (app.py:41-42,141).

    Pure IEEE arithmetic on identical inputs → identical doubles both engines.
    """
    return f"(({lo}) + ({i_expr}) * ((({hi}) - ({lo})) / {flit(n - 1)}))"


def hsv_to_rgb_exprs(h: str, s: str, v: str) -> tuple[str, str, str]:
    """Channel expressions for HSV→RGB (matplotlib hsv_to_rgb, app.py:5,19).

    Standard sextant formula; CASE arithmetic only, identical across engines.
    """
    i = f"(CAST(floor(({h}) * 6) AS BIGINT) % 6)"
    f_ = f"(({h}) * 6 - floor(({h}) * 6))"
    p = f"(({v}) * (1e0 - ({s})))"
    q = f"(({v}) * (1e0 - {f_} * ({s})))"
    t = f"(({v}) * (1e0 - (1e0 - {f_}) * ({s})))"
    r = (
        f"(CASE {i} WHEN 0 THEN ({v}) WHEN 1 THEN {q} WHEN 2 THEN {p} "
        f"WHEN 3 THEN {p} WHEN 4 THEN {t} ELSE ({v}) END)"
    )
    g = (
        f"(CASE {i} WHEN 0 THEN {t} WHEN 1 THEN ({v}) WHEN 2 THEN ({v}) "
        f"WHEN 3 THEN {q} WHEN 4 THEN {p} ELSE {p} END)"
    )
    b = (
        f"(CASE {i} WHEN 0 THEN {p} WHEN 1 THEN {p} WHEN 2 THEN {t} "
        f"WHEN 3 THEN ({v}) WHEN 4 THEN ({v}) ELSE {q} END)"
    )
    return r, g, b


def _as_double(n: int | str) -> str:
    """`n` as a DOUBLE operand: a float literal for a Python int, a CAST for
    a column (the UI parameters of a render are data, not literals)."""
    return flit(n) if isinstance(n, int) else f"CAST({n} AS DOUBLE)"


def blob_base_exprs(
    seed: int | str, n_blobs: int | str, id_expr: str = "blob_id"
) -> dict[str, str]:
    """Per-blob parameter formulas mirroring app.py:138-146 / FIXTURES.md §B,
    with the colour left as its HSV inputs (hue, sat, val).

    r ∈ [0.1,0.26), wobble ∈ [0.08,0.22), cx,cy ∈ [0.12,0.88),
    depth = blob_id/(n-1), hue = i/n, sat ∈ [0.35,0.65), val ∈ [0.75,0.95).
    `seed` and `n_blobs` are Python ints or BIGINT column names; both give
    the same doubles.
    """
    if isinstance(n_blobs, int):
        denom = flit(max(n_blobs - 1, 1))
    else:
        denom = _as_double(f"greatest({n_blobs} - 1, 1)")
    return {
        "r": uniform(id_expr, seed, 0, 0.1, 0.26),
        "wobble": uniform(id_expr, seed, 1, 0.08, 0.22),
        "cx": uniform(id_expr, seed, 2, 0.12, 0.88),
        "cy": uniform(id_expr, seed, 3, 0.12, 0.88),
        "depth": f"(({id_expr}) / {denom})",
        "hue": f"((({id_expr}) % {n_blobs}) / {_as_double(n_blobs)})",
        "sat": uniform(f"{id_expr} + 7000000", seed, 0, 0.35, 0.65),
        "val": uniform(f"{id_expr} + 9000000", seed, 0, 0.75, 0.95),
    }


def blob_param_exprs(
    seed: int | str, n_blobs: int | str, id_expr: str = "blob_id"
) -> dict[str, str]:
    """:func:`blob_base_exprs` with the colour converted to RGB
    (color = hsv(hue, sat, val), app.py:146)."""
    p = blob_base_exprs(seed, n_blobs, id_expr)
    cr, cg, cb = hsv_to_rgb_exprs(p.pop("hue"), p.pop("sat"), p.pop("val"))
    return {**p, "col_r": cr, "col_g": cg, "col_b": cb}


def vertex_exprs(
    seed: int | str, k: str, n_samples: int = 280
) -> tuple[str, str, str, str]:
    """(theta, rr, x, y) of boundary vertex `k` of blob `b` (columns
    b.blob_id, b.r, b.wobble, b.cx, b.cy) —
    app.py:141-144: theta = 2πk/(n-1), rr = r·(1 + wobble·(u-0.5)·2),
    (x, y) = c + rr·(cos, sin)(theta). Callers quantize x, y with q6 so
    both engines treat the polygon vertices as identical exact doubles
    (cos/sin may differ in the last ulp across libm implementations).
    """
    noise_seed = seed + 101 if isinstance(seed, int) else f"({seed} + 101)"
    theta = f"({TWO_PI} * {k} / {flit(n_samples - 1)})"
    noise = lcg_u(f"b.blob_id * {n_samples} + {k}", noise_seed, 0)
    rr = f"(b.r * (1e0 + b.wobble * ({noise} - 0.5e0) * 2e0))"
    return (
        theta,
        rr,
        f"(b.cx + {rr} * cos({theta}))",
        f"(b.cy + {rr} * sin({theta}))",
    )


def series_sql(n: int, alias: str = "i", dialect: str = "spark") -> str:
    """Integer series 0..n-1 — np.linspace/arange support (app.py:26,41,141).

    A dialect seam: Spark explodes a `sequence`, DuckDB uses its `range`
    table function. Everything downstream is shared text; the array helpers
    below are the other seams.
    """
    if dialect == "spark":
        # BIGINT cast matters: sequence(int, int) yields INTs and the LCG
        # products would overflow 32-bit under Spark ANSI mode.
        return (
            f"(SELECT CAST(_i AS BIGINT) AS {alias} "
            f"FROM (SELECT explode(sequence(0, {n - 1})) AS _i))"
        )
    return f"(SELECT CAST(range AS BIGINT) AS {alias} FROM range({n}))"


# Array functions where the two dialects spell them differently. Lambdas
# (`x -> expr`) and `filter` are spelled the same in both.
_LIST_FNS = {
    "spark": {"transform": "transform", "min": "array_min", "max": "array_max",
              "size": "size", "concat": "concat"},
    "duckdb": {"transform": "list_transform", "min": "list_min",
               "max": "list_max", "size": "len", "concat": "list_concat"},
}


def list_fn(name: str, dialect: str) -> str:
    """The dialect's name for array function `name`
    (transform/min/max/size/concat)."""
    return _LIST_FNS[dialect][name]


def list_at(array: str, i: str, dialect: str) -> str:
    """Element `i` (0-based) of `array`."""
    return f"{array}[{i}]" if dialect == "spark" else f"{array}[{i} + 1]"


def list_get(array: str, i: str, dialect: str) -> str:
    """Element `i` (0-based) of `array`, NULL when `i` falls outside it.
    Spark's `get` never raises (`array[i]` does under ANSI, and codegen
    may evaluate it ahead of a CASE guard); DuckDB reads a negative index
    from the end, so it is guarded."""
    if dialect == "spark":
        return f"get({array}, {i})"
    return f"(CASE WHEN {i} >= 0 THEN {array}[{i} + 1] END)"


def lambda_pos(var: str, dialect: str) -> str:
    """0-based position bound by a `(v, var) -> …` lambda: Spark counts
    from 0, DuckDB from 1."""
    return var if dialect == "spark" else f"({var} - 1)"


def let_sql(value: str, var: str, body: str, dialect: str) -> str:
    """`body` with lambda variable `var` bound to `value`, evaluated once.

    A lambda that reads a column directly gets that column's definition
    inlined by Catalyst (CollapseProject counts one reference) and then
    evaluates it once per element; a lambda variable is never inlined."""
    one = f"array({value})" if dialect == "spark" else f"[{value}]"
    return list_at(f"{list_fn('transform', dialect)}({one}, {var} -> {body})", "0", dialect)


def int_list(lo: str, hi: str, dialect: str) -> str:
    """BIGINT array lo..hi inclusive. Keep hi >= lo: Spark's `sequence`
    counts down when lo > hi, DuckDB's `generate_series` is empty."""
    fn = "sequence" if dialect == "spark" else "generate_series"
    return f"{fn}(CAST({lo} AS BIGINT), CAST({hi} AS BIGINT))"


def inline_sql(structs: str, dialect: str) -> str:
    """Select-list generator: one output row per element of the struct
    array `structs`, one output column per field (a field that is itself
    an array stays one column)."""
    if dialect == "spark":
        return f"inline({structs})"
    return f"unnest({structs}, max_depth := 2)"


def struct_sql(fields: dict[str, str], dialect: str) -> str:
    """Struct literal with named fields."""
    if dialect == "spark":
        return "named_struct(" + ", ".join(
            f"'{k}', {v}" for k, v in fields.items()) + ")"
    return "struct_pack(" + ", ".join(f'"{k}" := {v}' for k, v in fields.items()) + ")"


def list_sum_sql(array: str, dialect: str) -> str:
    """Left-to-right double sum of `array` — the same additions, in the same
    order, as a row-at-a-time SUM over the elements."""
    if dialect == "spark":
        return f"aggregate({array}, 0e0, (acc, v) -> acc + v)"
    return f"list_reduce(list_prepend(0e0, {array}), (acc, v) -> acc + v)"


def values_sql(cols: dict[str, str], alias: str, dialect: str) -> str:
    """One-row inline relation `alias(cols…)` of literal expressions."""
    row = ", ".join(cols.values())
    names = ", ".join(cols)
    if dialect == "spark":
        return f"SELECT * FROM VALUES ({row}) AS {alias}({names})"
    return f"SELECT * FROM (VALUES ({row})) AS {alias}({names})"


def blobs_sql(seed: int, n_blobs: int, dialect: str) -> str:
    """Blob parameter table — app.py:136-146 / FIXTURES.md §B `blobs`."""
    p = blob_param_exprs(seed, n_blobs)
    cols = ",\n    ".join(f"{expr} AS {name}" for name, expr in p.items())
    return (
        f"SELECT blob_id,\n    {cols}\n"
        f"FROM {series_sql(n_blobs, 'blob_id', dialect)}"
    )


def boundary_sql(
    seed: int, n_blobs: int, dialect: str, n_samples: int = 280
) -> str:
    """Blob boundary samples — app.py:141-144 / FIXTURES.md §B `boundary`;
    vertex formula in :func:`vertex_exprs`."""
    theta, rr, x, y = vertex_exprs(seed, "k", n_samples)
    return (
        f"SELECT b.blob_id, k, {theta} AS theta, {rr} AS rr,\n"
        f"  {q6(x)} AS px,\n"
        f"  {q6(y)} AS py\n"
        f"FROM ({blobs_sql(seed, n_blobs, dialect)}) b\n"
        f"CROSS JOIN {series_sql(n_samples, 'k', dialect)}"
    )


def kernel_sql(sigma: float, dialect: str) -> str:
    """In-engine Gaussian kernel gen+normalize — app.py:22-29.

    x ∈ [-radius, radius], w = exp(-x²/2σ²) / Σw (window-normalized without a
    re-join, SURVEY §2.1-E `agg_sum_normalize`).
    """
    radius = int(3 * sigma + 0.5)
    n = 2 * radius + 1
    raw = (
        f"exp(-((i - {radius}) * (i - {radius})) / "
        f"(2e0 * {flit(sigma)} * {flit(sigma)}))"
    )
    return (
        f"SELECT CAST(i - {radius} AS BIGINT) AS tap,\n"
        f"  {raw} / sum({raw}) OVER () AS weight\n"
        f"FROM {series_sql(n, 'i', dialect)}"
    )


def gaussian_kernel(sigma: float) -> list[tuple[int, float]]:
    """Normalized 1-D Gaussian taps [(offset, weight)] — app.py:22-29.

    radius = int(3σ+0.5), weights exp(-x²/2σ²) normalized to sum 1. Computed
    driver-side in Python so both engines consume identical float literals
    (the kernel is a query constant, like the reference's `gaussian_kernel1d`).
    """
    if sigma <= 0:
        return [(0, 1.0)]
    radius = int(3 * sigma + 0.5)
    raw = [math.exp(-(x * x) / (2 * sigma * sigma)) for x in range(-radius, radius + 1)]
    total = sum(raw)
    return [(x - radius, w / total) for x, w in enumerate(raw)]
