"""Golden invariants for the generative pipeline (FIXTURES.md §B, SURVEY §5.2.3)."""

from __future__ import annotations

from week3_2_practice_big_data__spark import REGISTRY
from week3_2_practice_big_data__spark.plans.png import png_dimensions
from week3_2_practice_big_data__spark.synth import gaussian_kernel

from .conftest import SF_SMALL


def test_kernel_sums_to_one():
    for sigma in (0.5, 1.0, 2.0, 3.5):
        taps = gaussian_kernel(sigma)
        assert abs(sum(w for _, w in taps) - 1.0) < 1e-12
        assert len(taps) == 2 * int(3 * sigma + 0.5) + 1
    assert gaussian_kernel(0.0) == [(0, 1.0)]  # sigma<=0 guard (app.py:23-24)


def test_blob_params_within_bounds(spark):
    rows = REGISTRY["src_range_gen"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 14
    for r in rows:
        assert 0.1 <= r["r"] <= 0.26
        assert 0.08 <= r["wobble"] <= 0.22
        assert 0.12 <= r["cx"] <= 0.88 and 0.12 <= r["cy"] <= 0.88
        assert 0.0 <= min(r["col_r"], r["col_g"], r["col_b"])
        assert max(r["col_r"], r["col_g"], r["col_b"]) <= 1.0
    depths = [r["depth"] for r in sorted(rows, key=lambda x: x["blob_id"])]
    assert depths == sorted(depths)  # depth monotone in blob_id


def test_composite_rgb_bounds_and_coverage(spark):
    rows = REGISTRY["sort_composite_order"].builder(spark, SF_SMALL).collect()
    assert {(r["row"], r["col"]) for r in rows} <= {
        (i, j) for i in range(96) for j in range(96)
    }
    assert all(0.0 <= r[c] <= 1.0 for r in rows for c in ("r", "g", "b"))
    # some pixels must be shaded (not all background white)
    assert any(r["r"] < 0.999 for r in rows)


def test_mask_alpha_gate(spark):
    rows = REGISTRY["filt_mask_apply"].builder(spark, SF_SMALL).collect()
    inside = REGISTRY["filt_point_in_polygon"].builder(spark, SF_SMALL).collect()
    inside_map = {(r["blob_id"], r["row"], r["col"]): r["inside"] for r in inside}
    for r in rows:
        key = (r["blob_id"], r["row"], r["col"])
        if inside_map[key]:
            assert 0.4 <= r["alpha"] <= 1.0
        else:
            assert r["alpha"] == 0.0


def test_blur_mass_preservation(spark):
    """Separable blur preserves total mass up to edge effects (app.py:31-37)."""
    blur = REGISTRY["win_conv2d_separable"].builder(spark, SF_SMALL).collect()
    pip = REGISTRY["filt_point_in_polygon"].builder(spark, SF_SMALL).collect()
    mass_in = sum(1.0 for r in pip if r["inside"])
    mass_out = sum(r["shadow"] for r in blur)
    assert mass_out <= mass_in + 1e-6
    assert mass_out >= 0.9 * mass_in  # bbox padding >> blur radius → tiny loss


def test_render_pngs_valid(spark):
    rows = REGISTRY["udf_grouped_map_render"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 6
    for r in rows:
        w, h = png_dimensions(bytes(r["png"]))
        assert (w, h) == (r["width"], r["height"])
        assert r["n_inside"] > 0


def test_poster_export(spark):
    rows = REGISTRY["sink_binary_export"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 1
    w, h = png_dimensions(bytes(rows[0]["png"]))
    assert (w, h) == (96, 96)
    assert rows[0]["seed"] == 42 and rows[0]["n_blobs"] == 6


def _reference_rng_replay(seed: int, n_blobs: int):
    """INDEPENDENT re-derivation of app.py:117-119,136-146 control flow —
    deliberately not calling numpy_blob_params, so a draw-order bug in the
    engine cannot hide behind a matching bug here."""
    import random
    from colorsys import hsv_to_rgb

    import numpy as np

    random.seed(seed)  # app.py:117
    np.random.seed(seed)  # app.py:118
    random.seed(seed)  # diverse_palette's internal reseed, app.py:12-13
    palette = []
    for _ in range(n_blobs):
        h = random.random()
        s = random.uniform(0.35, 0.65)
        v = random.uniform(0.75, 0.95)
        palette.append(hsv_to_rgb(h, s, v))
    out = []
    for i in range(n_blobs):  # continues the post-palette stream, app.py:137
        r = random.uniform(0.1, 0.26)
        wobble = random.uniform(0.08, 0.22)
        cx, cy = random.uniform(0.12, 0.88), random.uniform(0.12, 0.88)
        noise_sum = float(np.random.rand(280).sum())
        col = palette[i % len(palette)]
        out.append((i, r, wobble, cx, cy, noise_sum, col))
    return out


def test_numpy_parity_generator(spark):
    """mapInPandas replay matches an independent reference-flow replay
    bit-for-bit (SURVEY §7.4.2)."""
    rows = REGISTRY["src_range_gen_numpy"].builder(spark, SF_SMALL).collect()
    ref = _reference_rng_replay(42, 14)
    assert len(rows) == len(ref)
    for got, (i, r, wobble, cx, cy, noise_sum, col) in zip(rows, ref):
        assert got["blob_id"] == i
        assert got["r"] == r and got["wobble"] == wobble
        assert got["cx"] == cx and got["cy"] == cy
        assert got["noise_sum"] == noise_sum
        assert (got["col_r"], got["col_g"], got["col_b"]) == col


def test_scanline_equals_join_rasterization(spark):
    """Two containment strategies (pixel×edge join vs scanline window) must
    produce the identical even-odd mask (SURVEY §4 physical-strategy note)."""
    a = {
        (r["blob_id"], r["row"], r["col"]): r["inside"]
        for r in REGISTRY["filt_point_in_polygon"].builder(spark, SF_SMALL).collect()
    }
    b = {
        (r["blob_id"], r["row"], r["col"]): r["inside"]
        for r in REGISTRY["filt_pip_scanline"].builder(spark, SF_SMALL).collect()
    }
    assert a == b


def test_containment_keys_match_exported_mask(spark):
    """Both containment keys equal `golden/engine_scene/mask.csv`, the
    committed output of `golden/export_scene.py`: every candidate pixel of
    every blob's box, box rows no edge crosses included, with its even-odd
    decision. The file does not depend on the query text the two keys and
    their DuckDB oracles share, so a change to that text that drops,
    adds or flips a pixel fails here."""
    import os

    import pandas as pd

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "golden", "engine_scene", "mask.csv",
    )
    golden = set(pd.read_csv(path).itertuples(index=False, name=None))
    assert len(golden) == 24_881
    for key in ("filt_point_in_polygon", "filt_pip_scanline"):
        rows = REGISTRY[key].builder(spark, SF_SMALL).collect()
        got = {(r["blob_id"], r["row"], r["col"], r["inside"]) for r in rows}
        assert len(rows) == len(got) and got == golden, key


def test_poster_full_reference_scale(spark):
    """14 blobs × 400×400 (the reference's default workload) completes and
    covers a plausible canvas fraction."""
    rows = REGISTRY["gen_poster_full"].builder(spark, SF_SMALL).collect()
    assert len(rows) > 100_000  # most of the 160k canvas covered by bboxes
    assert all(0.0 <= r["r"] <= 1.0 for r in rows[:500])


def test_poster_param_points_match_oracle(spark):
    """The composite is a FUNCTION of the reference's UI parameters
    (app.py:107-113): oracle parity at two parameter points distinct from
    the registered defaults (VERDICT r1 §Next-round 5)."""
    from week3_2_practice_big_data__spark.plans.generative import _composite_sql
    from .oracle import compare, duck_run

    points = [
        dict(seed=123, nb=5, canvas=48, lx="-1e0", ly="0.2e0", theme="cool"),
        dict(seed=999, nb=11, canvas=48, lx="0e0", ly="1e0", theme="neutral"),
    ]
    for pt in points:
        sdf = spark.sql(_composite_sql("spark", **pt))
        ddf = duck_run(_composite_sql("duckdb", **pt), SF_SMALL)
        compare(sdf, ddf, key=f"gen_poster_param:{pt['seed']}")


def test_poster_edits_from_two_threads_match_their_oracles(spark):
    """Two clients on one session interleave edits, each with parameters
    of its own (the shadow on for one edit): every render equals its own
    DuckDB oracle, so no render reads the other client's parameters."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from week3_2_practice_big_data__spark.plans.generative import _composite_sql
    from .oracle import compare, duck_run

    clients = [
        [dict(seed=11, nb=5, theme="cool"),
         dict(seed=12, nb=9, lx="0.8e0", ly="0.6e0"),
         dict(seed=13, nb=9, theme="warm", blur_strength=0.05)],
        [dict(seed=21, nb=14, theme="neutral"),
         dict(seed=22, nb=3, lx="0e0", ly="1e0"),
         dict(seed=23, nb=14, lx="-0.7e0", ly="-0.4e0")],
    ]
    turn = threading.Barrier(len(clients), timeout=300)

    def run(edits: list[dict]) -> None:
        for edit in edits:
            turn.wait()  # each edit starts beside the other client's
            pt = dict(edit, canvas=32)
            compare(
                spark.sql(_composite_sql("spark", **pt)),
                duck_run(_composite_sql("duckdb", **pt), SF_SMALL),
                key=f"poster:{pt}",
            )

    with ThreadPoolExecutor(len(clients)) as pool:
        for done in [pool.submit(run, edits) for edits in clients]:
            done.result(timeout=600)


def test_poster_theme_changes_background_only_outside_blobs(spark):
    """Strong theme invariant: every pixel that is pure background on the
    white canvas (all channels 1.0 — no blob layer can blend to exact 1.0,
    shade < 1 and alpha >= 0.4) must equal EXACTLY the q6-rounded theme
    gradient formula on the themed canvas; and the gradient must actually
    be visible (some pixel differs)."""
    from week3_2_practice_big_data__spark.plans.generative import (
        _BG_ALPHA,
        _THEMES,
        _composite_sql,
    )

    canvas = 48
    base = spark.sql(_composite_sql("spark", canvas=canvas)).collect()
    warm = spark.sql(_composite_sql("spark", canvas=canvas, theme="warm")).collect()
    assert len(base) == len(warm) == canvas * canvas

    c1, c2 = _THEMES["warm"]

    def expected(ch, row):
        v1 = int(c1[1 + 2 * ch : 3 + 2 * ch], 16) / 255.0
        v2 = int(c2[1 + 2 * ch : 3 + 2 * ch], 16) / 255.0
        val = (1 - _BG_ALPHA) + _BG_ALPHA * v1 + _BG_ALPHA * (v2 - v1) * (
            row / (canvas - 1)
        )
        import math

        return math.floor(val * 1e6 + 0.5) / 1e6  # q6

    n_bg, n_diff = 0, 0
    for a, b in zip(base, warm):
        assert (a["row"], a["col"]) == (b["row"], b["col"])
        if (a["r"], a["g"], a["b"]) == (1.0, 1.0, 1.0):
            n_bg += 1
            assert b["r"] == expected(0, b["row"]), (b["row"], b["col"])
            assert b["g"] == expected(1, b["row"])
            assert b["b"] == expected(2, b["row"])
        if (a["r"], a["g"], a["b"]) != (b["r"], b["g"], b["b"]):
            n_diff += 1
    assert n_bg > 0 and n_diff > 0


def test_hires_export_dimensions(spark):
    """dpi=300-style export: x3 bilinear upsample -> 288x288 valid PNG."""
    rows = REGISTRY["sink_binary_export_hires"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 1
    w, h = png_dimensions(bytes(rows[0]["png"]))
    assert (w, h) == (288, 288)


def test_poster_pixel_golden(spark):
    """Golden pixel hash of the default export. The DuckDB oracle shares
    formula TEXT with the Spark plans, so a semantic change to the shared
    text drifts both engines together and parity cannot catch it — this
    constant pins the actual rendered pixels. Hash is over DECODED pixels
    (zlib-compressed bytes may vary across zlib builds; pixels cannot).
    The constant assumes the DejaVu caption layer (r6) — skip on hosts
    without the font file rather than fail on the LED fallback."""
    import hashlib

    import pytest

    from week3_2_practice_big_data__spark.plans import ttf
    from week3_2_practice_big_data__spark.plans.png import decode_png_rgb

    if not ttf.dejavu_available():
        pytest.skip("DejaVu font file absent; golden pins the DejaVu caption")

    rows = REGISTRY["sink_binary_export"].builder(spark, SF_SMALL).collect()
    px, w, h = decode_png_rgb(bytes(rows[0]["png"]))
    assert (w, h) == (96, 96)
    # r6 golden: caption rasterized from REAL DejaVu Sans outlines with
    # anti-aliased alpha blending (was: r4 5×7 LED-matrix hard stamp).
    # Regenerate deliberately whenever the render changes.
    assert (
        hashlib.sha256(px).hexdigest()
        == "055288640e7c0846f67fdf9c94ca77077a81c5ff9d0d6621fbd2b702b1208435"
    )


def test_tiled_export_stitches_to_single_png(spark):
    """The scale-safe tiled sink must reproduce the single-file export
    EXACTLY: decoding every 32x32 tile PNG into its (row0, col0) slot
    yields the same pixel buffer as sink_binary_export's one PNG."""
    import numpy as np

    from week3_2_practice_big_data__spark.plans.png import decode_png_rgb

    single = REGISTRY["sink_binary_export"].builder(spark, SF_SMALL).collect()
    ref_px, w, h = decode_png_rgb(bytes(single[0]["png"]))
    ref = np.frombuffer(ref_px, dtype=np.uint8).reshape(h, w, 3)

    tiles = REGISTRY["sink_binary_export_tiled"].builder(spark, SF_SMALL).collect()
    assert len(tiles) == (96 // 32) ** 2
    out = np.zeros_like(ref)
    for t in tiles:
        px, tw, th = decode_png_rgb(bytes(t["png"]))
        assert (tw, th) == (t["width"], t["height"]) == (32, 32)
        tile = np.frombuffer(px, dtype=np.uint8).reshape(th, tw, 3)
        out[t["row0"] : t["row0"] + th, t["col0"] : t["col0"] + tw] = tile
    assert np.array_equal(out, ref)


def test_poster_shadow_param_point_matches_oracle(spark):
    """Shadow composite is parameterized too: oracle parity at a non-default
    point (different seed/blob count/light/theme/blur strength)."""
    from week3_2_practice_big_data__spark.plans.generative import _composite_sql
    from .oracle import compare, duck_run

    # blur 0.08 at canvas 48 → σ = 3.84: past the max(2, ·) floor, so the
    # point varies the kernel width for real (0.03 would collapse to σ=2).
    pt = dict(seed=31, nb=4, canvas=48, lx="0.9e0", ly="-0.1e0",
              theme="neutral", blur_strength=0.08)
    sdf = spark.sql(_composite_sql("spark", **pt))
    ddf = duck_run(_composite_sql("duckdb", **pt), SF_SMALL)
    compare(sdf, ddf, key="gen_poster_shadow:param")


# sha256 of the DuckDB render's (row, col, r, g, b) as float64, sorted by
# (row, col). The two engines read the same SQL text, so a change to that
# text moves both together and parity alone cannot catch it; these pin the
# pixels. The points cover every theme, all five lights of the UI, 1 to 30
# blobs, 48 and 64 px and the 7:10 aspect.
_COMPOSITE_GOLDEN = [
    (dict(seed=42, nb=6, canvas=48, lx="-0.6e0", ly="0.8e0", theme=None),
     "8fd5760d1bdb4e16631ef79eb5384920be3a6fdc3277141597a1ff1aa2a9ceb3"),
    (dict(seed=7, nb=1, canvas=64, lx="0.4e0", ly="-0.7e0", theme="cool"),
     "68be3ad031b42c02a11bd2db465f55dd4c540762b632ef602147ddcce564d5cd"),
    (dict(seed=123, nb=20, canvas=48, lx="0.8e0", ly="0.6e0", theme="warm"),
     "a547860107452530799dce224162ba9271d50fc7b36833c911d3588053ae1e58"),
    (dict(seed=999, nb=30, canvas=64, lx="-0.7e0", ly="-0.4e0",
          theme="neutral"),
     "d5aa2844d97bbb3abc9afb341cc8d28c126b5e8ceb2ee1d9f8404979e5b799fb"),
    (dict(seed=5, nb=14, canvas=64, lx="0e0", ly="1e0", theme=None),
     "511b6844da87a6a72732c66b968fea2ffb77be9430426af1e5d8f33586a370a3"),
    (dict(seed=31, nb=30, canvas=48, lx="0e0", ly="1e0", theme="cool"),
     "e9e89abfdd5ce3a4d9b09fba742c1586f912c1a6313d6603c1cdf373c625e09e"),
    (dict(seed=42, nb=6, canvas=70, canvas_h=100, theme="cool"),
     "beb04d4c8b4d4ca0c165db7485d4b86700136f8f807f1341a87a6163c6d900ab"),
    (dict(seed=8, nb=1, canvas=70, canvas_h=100, lx="0.8e0", ly="0.6e0",
          theme="warm"),
     "8e41669e1c50790d651a497cf1fdb985b44bef9d0b3b81b2af6b8c59f83cdaf5"),
]
_SHADOW_GOLDEN = "825e50188f0cdc4ddb4a27a33aa3e891ec71bab8b0e463e91b0420ca489b6ee1"
# The shadow at three more points: the gen_poster_shadow_blur point, the
# param point of test_poster_shadow_param_point_matches_oracle, and 14
# blobs at 64 px on the warm theme.
_SHADOW_GOLDENS = [
    (dict(blur_strength=0.05),
     "e9d14984b861a775a60a893b48a3cf93300cebe64199234bb53e1c9c122db480"),
    (dict(seed=31, nb=4, canvas=48, lx="0.9e0", ly="-0.1e0",
          theme="neutral", blur_strength=0.08),
     "18885d4b2fc926cc4dd521337425f3e4e0f708e5f95cdbc2ee5213dd7b3bd9e8"),
    (dict(nb=14, canvas=64, theme="warm", blur_strength=0.015),
     "5d02c7356c7b616e805295ca2f40ce5a2d90a3fffe13cce84525f4e4607c72c0"),
]


def _duck_pixel_digest(sql: str) -> str:
    import hashlib

    import duckdb

    df = duckdb.connect().execute(sql).fetch_df().sort_values(["row", "col"])
    px = df[["row", "col", "r", "g", "b"]].to_numpy(dtype="float64")
    return hashlib.sha256(px.tobytes()).hexdigest()


def test_composite_pixels_match_golden_hashes():
    from week3_2_practice_big_data__spark.plans.generative import (
        _BLUR_STRENGTH,
        _composite_sql,
    )

    for pt, digest in _COMPOSITE_GOLDEN:
        assert _duck_pixel_digest(_composite_sql("duckdb", **pt)) == digest, pt
    shadow = _composite_sql("duckdb", blur_strength=_BLUR_STRENGTH)
    assert _duck_pixel_digest(shadow) == _SHADOW_GOLDEN
    for pt, digest in _SHADOW_GOLDENS:
        assert _duck_pixel_digest(_composite_sql("duckdb", **pt)) == digest, pt


def test_poster_blob_count_bounds(spark):
    """n_blobs is data in the render (1..30, the slider's range): both ends
    match the oracle, and a count outside the range is refused rather
    than drawn with fewer blobs."""
    import pytest

    from week3_2_practice_big_data__spark.plans.generative import _composite_sql
    from .oracle import compare, duck_run

    for nb in (1, 30):
        pt = dict(seed=17, nb=nb, canvas=48, theme="warm")
        compare(
            spark.sql(_composite_sql("spark", **pt)),
            duck_run(_composite_sql("duckdb", **pt), SF_SMALL),
            key=f"poster:nb={nb}",
        )
    for nb in (0, 31):
        with pytest.raises(ValueError):
            _composite_sql("spark", nb=nb)


def test_shadow_is_square_only():
    """The shadow's blur and offset assume one pixel pitch on both axes,
    so a shadow on the 7:10 canvas is refused, not drawn skewed."""
    import pytest

    from week3_2_practice_big_data__spark.plans.generative import _composite_sql

    with pytest.raises(ValueError):
        _composite_sql("duckdb", canvas=70, canvas_h=100, blur_strength=0.015)


def test_bg_colormap_matches_lut_reference(spark):
    """gen_poster_bg_colormap reproduces matplotlib's colormap pipeline:
    independent Python recomputation (t → 256-LUT index → anchor
    interpolation → alpha-0.2 over white → q6) must equal the engine's
    values EXACTLY, and the t=0 / t=0.5 / t=1 coolwarm rows must land on
    the published Moreland/matplotlib table endpoints."""
    import math

    from week3_2_practice_big_data__spark.plans.generative import (
        _BG_ALPHA,
        _CMAP_COOLWARM,
        _CMAP_WISTIA,
        _GRAD_ROWS,
        _LUT_N,
    )

    def expected(anchors, i):
        t = i / (_GRAD_ROWS - 1)
        j = min(int(t * _LUT_N), _LUT_N - 1)
        x = j / (_LUT_N - 1)
        nseg = len(anchors) - 1
        k = min(int(x * nseg), nseg - 1)
        frac = x * nseg - k
        out = []
        for ch in range(3):
            c = anchors[k][ch] + (anchors[k + 1][ch] - anchors[k][ch]) * frac
            v = (1.0 - _BG_ALPHA) + _BG_ALPHA * c
            out.append(math.floor(v * 1e6 + 0.5) / 1e6)
        return tuple(out)

    rows = {
        (r["theme"], r["i"]): (r["bg_r"], r["bg_g"], r["bg_b"])
        for r in REGISTRY["gen_poster_bg_colormap"].builder(spark, SF_SMALL).collect()
    }
    assert len(rows) == 3 * _GRAD_ROWS
    for theme, anchors in (
        ("cool", _CMAP_COOLWARM),
        ("warm", _CMAP_WISTIA),
        ("neutral", _CMAP_WISTIA),
    ):
        for i in (0, 1, _GRAD_ROWS // 2, _GRAD_ROWS - 2, _GRAD_ROWS - 1):
            assert rows[(theme, i)] == expected(anchors, i), (theme, i)

    # Anchor endpoints pin the literal tables to the public values:
    # coolwarm t=0 is Moreland's cool pole, t=1 the warm pole, the
    # mid-LUT row sits on the near-white diverging center; Wistia's
    # endpoints are '#e4ff7a' and '#fc7b03'.
    a = _BG_ALPHA

    def blend(c):
        return tuple(math.floor(((1 - a) + a * v) * 1e6 + 0.5) / 1e6 for v in c)

    assert rows[("cool", 0)] == blend((0.2298057, 0.298717966, 0.753683153))
    assert rows[("cool", _GRAD_ROWS - 1)] == blend(
        (0.705673158, 0.01555616, 0.150232812)
    )
    assert rows[("warm", 0)] == blend((228 / 255, 1.0, 122 / 255))
    assert rows[("warm", _GRAD_ROWS - 1)] == blend((252 / 255, 123 / 255, 3 / 255))


def test_caption_glyph_pixels(spark):
    """The seed caption (app.py:152) is stamped into the export. r6: the
    caption is rasterized from REAL DejaVu Sans outlines and
    alpha-blended; this test re-blends every caption pixel INDEPENDENTLY
    in NumPy (base canvas + rasterizer alpha table + the q6/clip/byte
    pipeline) and requires exact byte equality with the decoded PNG —
    plus the layout invariants: bottom eighth of the image, horizontally
    centered."""
    import math

    import numpy as np

    from week3_2_practice_big_data__spark.plans.generative import (
        _CAPTION_GRAY,
        _cached_canvas,
        _dejavu_caption_pixels,
        CANVAS,
        SEED,
    )
    from week3_2_practice_big_data__spark.plans.png import decode_png_rgb

    cap = _dejavu_caption_pixels(f"Seed: {SEED}", CANVAS, 1)
    if cap is None:
        import pytest

        pytest.skip("DejaVu font file absent; LED fallback in use")

    rows = REGISTRY["sink_binary_export"].builder(spark, SF_SMALL).collect()
    px, w, h = decode_png_rgb(bytes(rows[0]["png"]))
    img = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)

    base = {
        (r["row"], r["col"]): (r["r"], r["g"], r["b"])
        for r in _cached_canvas(spark).collect()
    }

    def q6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    n_aa = 0
    for row, col, a in cap:
        got = img[h - 1 - row, col]
        want = tuple(
            int(min(max(q6(_CAPTION_GRAY * a + v * (1.0 - a)), 0.0), 1.0) * 255)
            for v in base[(row, col)]
        )
        assert tuple(int(v) for v in got) == want, (row, col, a)
        if 0.0 < a < 1.0:
            n_aa += 1
    assert n_aa > 20  # genuinely anti-aliased, not a binary stamp
    # caption sits in the bottom eighth, centered within the advance sum
    assert max(row for row, _, _ in cap) < h // 8  # canvas rows grow UP
    cols = [c for _, c, _ in cap]
    center = (min(cols) + max(cols)) / 2
    assert abs(center - (w - 1) / 2) <= 2.5


def test_ttf_rasterizer_glyph_sanity():
    """plans/ttf.py parses the host DejaVu file correctly: every caption
    char resolves to a non-empty outline (space excepted), coverage
    alphas are 1/16-granular in (0,1], advances are positive and
    proportional (':' narrower than 'S'), and the cache is
    deterministic across calls."""
    import pytest

    from week3_2_practice_big_data__spark.plans import ttf

    if not ttf.dejavu_available():
        pytest.skip("DejaVu font file absent")
    for ch in "Sed:42":
        cov, adv, asc, height = ttf.glyph_coverage(ch, 10)
        assert cov and adv > 0 and asc > 0 and height > 0, ch
        for _gr, _gc, a in cov:
            assert 0.0 < a <= 1.0
            assert abs(a * 16 - round(a * 16)) < 1e-9  # 4×4 supersampled
    _, adv_colon, _, _ = ttf.glyph_coverage(":", 10)
    _, adv_s, _, _ = ttf.glyph_coverage("S", 10)
    assert adv_colon < adv_s  # proportional, not monospaced-bitmap
    cov_sp, adv_sp, _, h_sp = ttf.glyph_coverage(" ", 10)
    assert cov_sp == () and adv_sp > 0 and h_sp == 0
    assert ttf.glyph_coverage("S", 10) == ttf.glyph_coverage("S", 10)


def test_ttf_composite_glyphs_rasterize():
    """The composite-glyph path (numberOfContours < 0: component refs
    with XY offsets — how DejaVu builds accented letters) must produce
    sane coverage too: 'é' and 'Ö' are composites in DejaVu and should
    raster taller than their base letters' x-height alone (the accent
    adds rows above)."""
    import pytest

    from week3_2_practice_big_data__spark.plans import ttf

    if not ttf.dejavu_available():
        pytest.skip("DejaVu font file absent")
    cov_e, _, _, _ = ttf.glyph_coverage("e", 12)
    cov_ea, _, _, _ = ttf.glyph_coverage("é", 12)
    # gr measures DOWN from the ascender line: the accent's ink starts
    # strictly higher (smaller min gr) than the bare 'e' x-height ink
    assert cov_ea and min(gr for gr, _, _ in cov_ea) < min(
        gr for gr, _, _ in cov_e
    )
    cov_o, _, _, h_o = ttf.glyph_coverage("Ö", 12)
    assert cov_o and h_o > 0
