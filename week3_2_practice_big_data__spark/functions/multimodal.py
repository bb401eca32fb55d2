"""NORTH-STAR multimodal-column operators (SURVEY.md §2.1-K `ns_multimodal_cols`).

Pattern: media lives in opaque BinaryType columns next to typed metadata;
compute that needs the bytes runs as Arrow-batched pandas UDFs / mapInPandas
(never per-row Python), everything else stays relational on the metadata.

The engine's own generative renders (plans/generative.py) supply real PNG
bytes. Round 2 upgraded pixel decode to REAL: plans/png.py ships a pure-
stdlib decoder for the exact subset the engine encodes (RGB8, filter 0,
zlib), so metadata decode, resize, and frame sampling all run on real
pixels. Only SEMANTIC feature extraction remains a documented deterministic
stub (`_stub_feature`) — that genuinely needs a model/image stack the
container doesn't ship; its Spark-side plumbing (schema, batch shape,
partitioning) is real and tested.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..common import checkpointed
from ..registry import register
from ..plans.generative import udf_grouped_map_render
from ..plans.png import decode_png_rgb, encode_png_rgb, png_dimensions


def _posters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared materialization of the 6-poster render (r9): every
    mm key consumes this relation, and the applyInPandas render costs
    ~2.7 s warm at bench scale — re-rendering per key invocation was ~70%
    of ns_mm_pipeline_e2e's wall. One eager localCheckpoint per
    (session, sf), the cached_tokens_ref discipline applied to pixels
    (the registered udf_grouped_map_render KEY itself still renders
    live — this cache covers the downstream consumers only)."""
    return checkpointed(
        spark, "poster", lambda: udf_grouped_map_render(spark, sf_dir), sf_dir
    )


@register(
    "ns_multimodal_cols",
    oracle=None,  # binary column → rows-only; pytest validates bytes
    doc="Multimodal rows: PNG BinaryType column + typed metadata (width, "
    "height, byte size) side by side, produced fully in-executor (NS).",
    tags=("ns", "multimodal"),
)
def ns_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    posters = _posters(spark, sf_dir)
    return posters.select(
        "blob_id",
        "width",
        "height",
        F.octet_length("png").alias("n_bytes"),
        "png",
    ).orderBy("blob_id")


@register(
    "ns_mm_decode_meta",
    oracle=None,  # parses binary — rows-only; pytest asserts consistency
    doc="Metadata decode from the binary column: IHDR width/height parsed "
    "from PNG bytes by an Arrow-batched pandas UDF, cross-checked against "
    "the stored metadata columns (NS).",
    tags=("ns", "multimodal", "udf"),
)
def ns_mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("w int, h int")
    def parsed_dims(png: pd.Series) -> pd.DataFrame:
        dims = png.map(lambda b: png_dimensions(bytes(b)))
        return pd.DataFrame({"w": dims.map(lambda d: d[0]), "h": dims.map(lambda d: d[1])})

    return (
        _posters(spark, sf_dir)
        .withColumn("parsed", parsed_dims("png"))  # one parse per PNG
        .select(
            "blob_id",
            "width",
            "height",
            F.col("parsed.w").alias("parsed_width"),
            F.col("parsed.h").alias("parsed_height"),
            (
                (F.col("parsed.w") == F.col("width"))
                & (F.col("parsed.h") == F.col("height"))
            ).alias("meta_consistent"),
        )
        .orderBy("blob_id")
    )


def _stub_feature(png: bytes, n: int = 8) -> list[float]:
    """Deterministic FAKE feature extractor (real decode needs image libs
    absent from this container). Features are byte-histogram moments over
    the compressed stream — stable, reproducible, obviously not semantic.
    A real deployment swaps this body for a true decoder; the Spark-side
    contract (bytes in → fixed-dim float vector out) is unchanged."""
    chunk = max(1, len(png) // n)
    return [
        round(sum(png[i * chunk : (i + 1) * chunk]) / (255.0 * chunk + 1e-9), 6)
        for i in range(n)
    ]


_FEAT_DIM = 8


def feature_pipeline(posters: DataFrame) -> DataFrame:
    """The ns_mm_feature_stub transform over any posters-shaped relation."""

    def extract(batches):
        for pdf in batches:
            feats = pdf["png"].map(lambda b: _stub_feature(bytes(b), _FEAT_DIM))
            yield pd.DataFrame(
                {
                    "blob_id": pdf["blob_id"],
                    "n_bytes": pdf["png"].map(len),
                    "features": feats,
                }
            )

    vectors = posters.select("blob_id", "png").mapInPandas(
        extract, "blob_id bigint, n_bytes bigint, features array<double>"
    )
    # Scalar-only output boundary: unpack the fixed-dim vector and fold the
    # whole array into one digest (values are already 6-dp rounded in the
    # extractor, so CAST→STRING is stable across runs/partitions).
    feat_str = F.transform(F.col("features"), lambda v: v.cast("string"))
    return (
        vectors.select(
            "blob_id",
            "n_bytes",
            F.size("features").alias("feat_dim"),
            *[F.col("features")[i].alias(f"f{i}") for i in range(_FEAT_DIM)],
            F.sha2(F.concat_ws(",", feat_str), 256).alias("features_digest"),
        )
        .orderBy("blob_id")
    )


@register(
    "ns_mm_feature_stub",
    oracle=None,  # stubbed decode — rows-only
    doc="Feature extraction over binary media via mapInPandas: Arrow batches "
    "of (id, bytes) → fixed-dim float vectors. Decode step is a documented "
    "deterministic stub (no image libs in container); batch shape, schema "
    "and partitioning are the real 100 TB plumbing (NS). The vector stays an "
    "array<double> through the Arrow boundary; the registered OUTPUT projects "
    "it to fixed scalar columns f0..f7 + a sha256 digest so every emitted "
    "column is driver-hashable (r5 red row: pandas cannot factorize lists).",
    tags=("ns", "multimodal", "udf"),
)
def ns_mm_feature_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return feature_pipeline(_posters(spark, sf_dir))


# ---------------------------------------------------------------------------
# ns_mm_resize — REAL image resize over the binary column: decode (pure-
# stdlib PNG subset decoder, plans/png.py) → nearest-neighbor downscale to
# 32×32 with NumPy → re-encode, all inside Arrow-batched mapInPandas. The
# 100 TB thumbnailing pattern: bytes never leave the executor, metadata
# stays relational.
# ---------------------------------------------------------------------------

_THUMB = 32


def resize_pipeline(posters: DataFrame) -> DataFrame:
    """The ns_mm_resize transform over any posters-shaped relation."""

    def resize(batches):
        import numpy as np

        for pdf in batches:
            out = {"blob_id": [], "src_w": [], "src_h": [], "thumb": []}
            for blob_id, png in zip(pdf["blob_id"], pdf["png"]):
                pixels, w, h = decode_png_rgb(bytes(png))
                img = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)
                ri = (np.arange(_THUMB) * h) // _THUMB
                ci = (np.arange(_THUMB) * w) // _THUMB
                thumb = img[ri][:, ci]
                out["blob_id"].append(blob_id)
                out["src_w"].append(w)
                out["src_h"].append(h)
                out["thumb"].append(
                    encode_png_rgb(thumb.tobytes(), _THUMB, _THUMB)
                )
            yield pd.DataFrame(out)

    return (
        posters.select("blob_id", "png")
        .mapInPandas(resize, "blob_id bigint, src_w int, src_h int, thumb binary")
        .orderBy("blob_id")
    )


@register(
    "ns_mm_resize",
    oracle=None,  # binary output → rows-only; pytest checks decoded dims
    doc="Image resize over BinaryType media: real pixel decode (pure-stdlib "
    "PNG subset), NumPy nearest-neighbor downscale to 32×32, re-encode — "
    "mapInPandas, Arrow batches, bytes never leave the executor (NS).",
    tags=("ns", "multimodal", "udf"),
)
def ns_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_pipeline(_posters(spark, sf_dir))


# ---------------------------------------------------------------------------
# ns_mm_frame_sample — video-style frame sampling plumbing: a per-blob
# "video" is a length-prefixed container of 6 PNG frames (real pixels,
# per-frame brightness ramp), built AND sampled inside executors. The
# sampler parses the container and emits every 2nd frame with its metadata
# — the decode-container → select-frames → per-frame-rows pattern used for
# video at 100 TB, with the codec swapped for the engine's own.
# ---------------------------------------------------------------------------

_N_FRAMES = 6
_FRAME_STEP = 2


def _pack_video(png: bytes) -> bytes:
    """6-frame container: per-frame brightness-ramped re-encodes of the
    poster, each frame length-prefixed (4-byte big-endian)."""
    import struct

    import numpy as np

    pixels, w, h = decode_png_rgb(png)
    img = np.frombuffer(pixels, dtype=np.uint8).astype(np.float64)
    frames = []
    for f in range(_N_FRAMES):
        scale = 0.5 + 0.1 * f
        fb = encode_png_rgb(
            np.clip(img * scale, 0, 255).astype(np.uint8).tobytes(), w, h
        )
        frames.append(struct.pack(">I", len(fb)) + fb)
    return b"".join(frames)


def frame_sample_pipeline(posters: DataFrame) -> DataFrame:
    """The ns_mm_frame_sample transform over any posters-shaped relation."""

    def sample(batches):
        import struct

        for pdf in batches:
            out = {"blob_id": [], "frame_idx": [], "width": [], "height": [], "frame": []}
            for blob_id, png in zip(pdf["blob_id"], pdf["png"]):
                video = _pack_video(bytes(png))
                pos, idx = 0, 0
                while pos < len(video):
                    (ln,) = struct.unpack(">I", video[pos : pos + 4])
                    frame = video[pos + 4 : pos + 4 + ln]
                    if idx % _FRAME_STEP == 0:
                        w, h = png_dimensions(frame)
                        out["blob_id"].append(blob_id)
                        out["frame_idx"].append(idx)
                        out["width"].append(w)
                        out["height"].append(h)
                        out["frame"].append(frame)
                    pos += 4 + ln
                    idx += 1
            yield pd.DataFrame(out)

    return (
        posters.select("blob_id", "png")
        .mapInPandas(
            sample,
            "blob_id bigint, frame_idx int, width int, height int, frame binary",
        )
        .orderBy("blob_id", "frame_idx")
    )


@register(
    "ns_mm_frame_sample",
    oracle=None,  # binary frames → rows-only; pytest checks count/dims
    doc="Video frame sampling: per-blob 6-frame container (length-prefixed "
    "real-pixel PNG frames) parsed in mapInPandas, every 2nd frame emitted "
    "as its own row with (frame_idx, width, height, frame) — the container-"
    "decode → frame-select plumbing for video columns at scale (NS).",
    tags=("ns", "multimodal", "udf"),
)
def ns_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample_pipeline(_posters(spark, sf_dir))


# ---------------------------------------------------------------------------
# ns_mm_audio_window — audio columns: waveforms live as opaque PCM BINARY
# next to typed metadata; DSP runs windowed over decoded samples inside
# mapInPandas. The waveform is SYNTHESIZED deterministically (int16 LCG
# noise — the container ships no audio files or codecs; the decode step for
# real formats would slot in where np.frombuffer stands), but everything
# Spark-side — binary column, Arrow batching, frame windowing, per-frame
# reduction — is the real production shape.
# ---------------------------------------------------------------------------

_AUDIO_TRACKS = 8
_AUDIO_SAMPLES = 4096
_AUDIO_FRAME = 1024


def synth_pcm(track_id: int) -> bytes:
    """Deterministic int16 little-endian PCM noise for one track (LCG —
    same modulus family as synth.py, so reruns and engines agree)."""
    import numpy as np

    out = np.empty(_AUDIO_SAMPLES, dtype=np.int16)
    x = (track_id * 1_000_003 + 12_345) % 2_147_483_648
    for i in range(_AUDIO_SAMPLES):
        x = (1_103_515_245 * x + 12_345) % 2_147_483_648
        out[i] = (x % 65_536) - 32_768
    return out.tobytes()


def audio_pipeline(spark: SparkSession) -> DataFrame:
    """The ns_mm_audio_window transform over _AUDIO_TRACKS synthetic tracks."""
    tracks = spark.range(_AUDIO_TRACKS).withColumnRenamed("id", "track_id")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "track_id": pdf["track_id"],
                    "pcm": [synth_pcm(int(t)) for t in pdf["track_id"]],
                }
            )

    def frame_rms(batches):
        import numpy as np

        for pdf in batches:
            out = {"track_id": [], "frame_idx": [], "n_samples": [], "rms": []}
            for track_id, pcm in zip(pdf["track_id"], pdf["pcm"]):
                samples = np.frombuffer(bytes(pcm), dtype="<i2").astype(np.float64)
                for idx in range(0, len(samples) // _AUDIO_FRAME):
                    frame = samples[idx * _AUDIO_FRAME : (idx + 1) * _AUDIO_FRAME]
                    out["track_id"].append(track_id)
                    out["frame_idx"].append(idx)
                    out["n_samples"].append(len(frame))
                    out["rms"].append(round(float(np.sqrt(np.mean(frame * frame))), 6))
            yield pd.DataFrame(out)

    return (
        tracks.mapInPandas(gen, "track_id bigint, pcm binary")
        .mapInPandas(frame_rms, "track_id bigint, frame_idx int, n_samples int, rms double")
        .orderBy("track_id", "frame_idx")
    )


@register(
    "ns_mm_audio_window",
    oracle=None,  # binary waveform path → rows-only; pytest pins RMS values
    doc="Audio-column windowing: per-track int16 PCM BINARY column, framed "
    "into 1024-sample windows inside mapInPandas, per-frame RMS energy "
    "emitted as rows — the decode→window→reduce plumbing for audio at "
    "scale; synthesis is deterministic LCG noise (no codecs in the "
    "container), the Spark path is real (NS).",
    tags=("ns", "multimodal", "udf"),
)
def ns_mm_audio_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    del sf_dir  # waveform is engine-synthesized; no table input
    return audio_pipeline(spark)


# ---------------------------------------------------------------------------
# src_binary_files — the production ingest path for media: image files on
# disk read with Spark's binaryFile source (path/length/content columns),
# dimensions parsed from the bytes. The files are the engine's own rendered
# posters, exported once per session to repo scratch — so the key
# round-trips sink (files on disk) → source (binaryFile) → decode.
# ---------------------------------------------------------------------------


@register(
    "src_binary_files",
    oracle=None,  # binary file source → rows-only; pytest pins the dims
    doc="binaryFile source format: per-blob PNG files written to scratch, "
    "read back as (path, length, content BINARY) rows, IHDR dimensions "
    "parsed from the bytes and checked against the byte length — the "
    "file-based media ingest path beside the column-based "
    "ns_multimodal_cols (NS).",
    tags=("ns", "multimodal", "source"),
)
def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..common import build_once, scratch_dir

    rows = _posters(spark, sf_dir).select("blob_id", "png").collect()

    def build(tmp: str) -> None:
        for row in rows:
            with open(os.path.join(tmp, f"blob_{row['blob_id']:02d}.png"), "wb") as f:
                f.write(bytes(row["png"]))

    # Stamp records the blob count AND the renderer revision: a scratch
    # exported by an older renderer configuration (different blob count, or
    # the pre-r4 mirrored scanline order) must be rebuilt, not silently
    # globbed (stale files would leak into the result).
    out = build_once(
        scratch_dir(sf_dir, "png_files"), build, stamp=f"blobs={len(rows)},flip=r4"
    )

    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.png").load(out)

    def parse_dims(content: pd.Series) -> pd.DataFrame:
        dims = [png_dimensions(bytes(b)) for b in content]
        return pd.DataFrame({"width": [w for w, _ in dims], "height": [h for _, h in dims]})

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("width int, height int")
    def dims_udf(content: pd.Series) -> pd.DataFrame:
        return parse_dims(content)

    return (
        files.select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length"),
            dims_udf("content").alias("dims"),
        )
        .select("file_name", "length", "dims.width", "dims.height")
        .orderBy("file_name")
    )


# ---------------------------------------------------------------------------
# ns_mm_image_phash — perceptual image dedup: average-hash (aHash) per
# poster — decode, grayscale, 8×8 block means, bit = mean-above-global-mean
# → a 64-bit fingerprint; pairs at Hamming distance ≤ 10 are visual
# near-dups. The image-side sibling of ns_dedup_simhash: same
# fingerprint → band → confirm shape, but the fingerprint comes from pixel
# content (Arrow-batched mapInPandas decode; blob-keyed, embarrassingly
# parallel). Pair join is exact on the BIGINT hash band bytes — no pixel
# ever shuffles.
# ---------------------------------------------------------------------------

_PHASH_HAMMING = 10


def phash_pipeline(spark: SparkSession, posters: DataFrame) -> DataFrame:
    """The ns_mm_image_phash transform over any posters-shaped relation.

    REP-COLLAPSE (r6, the text-dedup lesson applied to pixels): byte-
    identical images collapse to one representative (min blob_id per
    sha256(png)) BEFORE decoding/hashing — a duplicate-heavy media corpus
    otherwise decodes every copy and makes the pair join duplicate-factor-
    quadratic. Fingerprints are computed for reps only; confirmed rep
    pairs expand back to member pairs (output-bound) and within-group
    byte-identical pairs emit hamming 0 directly (identical bytes →
    identical fingerprint always exists — no signature gate needed,
    unlike the <3-token text case)."""

    def phash(batches):
        import numpy as np

        for pdf in batches:
            out = {"blob_id": [], "phash": []}
            for blob_id, png in zip(pdf["blob_id"], pdf["png"]):
                pixels, w, h = decode_png_rgb(bytes(png))
                img = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)
                gray = img.astype(np.float64).mean(axis=2)
                ri = (np.arange(8) * h) // 8
                ci = (np.arange(8) * w) // 8
                rl = np.append(ri[1:], h)
                cl = np.append(ci[1:], w)
                blocks = np.array(
                    [
                        [gray[ri[i]:rl[i], ci[j]:cl[j]].mean() for j in range(8)]
                        for i in range(8)
                    ]
                )
                bits = (blocks > blocks.mean()).astype(np.uint64).reshape(-1)
                hv = 0
                for b in bits:
                    hv = (hv << 1) | int(b)
                # store as signed 64-bit for the BIGINT column
                if hv >= 1 << 63:
                    hv -= 1 << 64
                out["blob_id"].append(int(blob_id))
                out["phash"].append(hv)
            import pandas as pd

            yield pd.DataFrame(out)

    # Materialize once: the relation is consumed twice (rep map + rep
    # bytes) and posters is typically an applyInPandas render plan that
    # must not re-execute per reference.
    keyed = posters.select(
        "blob_id", "png", F.sha2(F.col("png"), 256).alias("digest")
    ).localCheckpoint(eager=True)
    from pyspark.sql.window import Window

    g = keyed.select(
        "blob_id",
        F.min("blob_id").over(Window.partitionBy("digest")).alias("rep"),
    ).localCheckpoint(eager=True)
    rep_posters = keyed.join(
        g.filter(F.col("blob_id") == F.col("rep")).select("blob_id"),
        "blob_id",
    )
    hashed = rep_posters.select("blob_id", "png").mapInPandas(
        phash, "blob_id int, phash bigint"
    ).localCheckpoint(eager=True)
    return spark.sql(f"""
WITH rep_pairs AS (
  SELECT a.blob_id AS ba, b.blob_id AS bb,
    bit_count(a.phash ^ b.phash) AS hamming
  FROM {{hashed}} a JOIN {{hashed}} b ON a.blob_id < b.blob_id
  WHERE bit_count(a.phash ^ b.phash) <= {_PHASH_HAMMING}
),
expanded AS (
  SELECT least(ga.blob_id, gb.blob_id) AS ba,
    greatest(ga.blob_id, gb.blob_id) AS bb, rp.hamming
  FROM rep_pairs rp
  JOIN {{g}} ga ON ga.rep = rp.ba
  JOIN {{g}} gb ON gb.rep = rp.bb
  UNION ALL
  SELECT a.blob_id AS ba, b.blob_id AS bb, CAST(0 AS BIGINT) AS hamming
  FROM {{g}} a JOIN {{g}} b
    ON a.rep = b.rep AND a.blob_id < b.blob_id
)
SELECT CAST(ba AS INT) AS ba, CAST(bb AS INT) AS bb, hamming
FROM expanded
ORDER BY hamming, ba, bb
""", hashed=hashed, g=g)


@register(
    "ns_mm_image_phash",
    oracle=None,  # pixel pipeline → rows-only; pytest pins dup structure
    doc="Perceptual average-hash (8×8 aHash) per rendered poster via "
    "mapInPandas decode + block means over byte-identical-dup "
    "REPRESENTATIVES (rep-collapse, r6); near-dup rep pairs at Hamming "
    "≤ 10 via popcount(xor) on the BIGINT fingerprints, expanded back to "
    "member pairs output-bound — image-content dedup beside the "
    "text/embedding families (NS multimodal).",
    tags=("ns", "multimodal", "dedup"),
)
def ns_mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return phash_pipeline(spark, _posters(spark, sf_dir))


# ---------------------------------------------------------------------------
# ns_mm_scene_cut — shot-boundary detection over the video container: mean
# absolute pixel difference between consecutive frames, a cut flagged where
# the difference exceeds the clip's own mean + 2σ (adaptive threshold —
# the standard histogram/pixel-delta shot detector). The brightness-ramped
# synthetic frames give a known structure (uniform ramp, no true cuts) so
# pytest pins both the diff profile and the no-cut outcome; real footage
# swaps the container codec, the Spark shape is unchanged: container
# decode + consecutive-frame delta inside one mapInPandas, frame bytes
# never leave the executor.
# ---------------------------------------------------------------------------


def scene_cut_pipeline(posters: DataFrame) -> DataFrame:
    """The ns_mm_scene_cut transform over any posters-shaped relation."""

    def cuts(batches):
        import struct

        import numpy as np

        for pdf in batches:
            out = {"blob_id": [], "frame_idx": [], "mean_abs_diff": [], "is_cut": []}
            for blob_id, png in zip(pdf["blob_id"], pdf["png"]):
                video = _pack_video(bytes(png))
                frames, pos = [], 0
                while pos < len(video):
                    (ln,) = struct.unpack(">I", video[pos : pos + 4])
                    px, w, h = decode_png_rgb(video[pos + 4 : pos + 4 + ln])
                    frames.append(np.frombuffer(px, dtype=np.uint8).astype(np.float64))
                    pos += 4 + ln
                diffs = [
                    float(np.abs(frames[i] - frames[i - 1]).mean())
                    for i in range(1, len(frames))
                ]
                mu = sum(diffs) / len(diffs)
                sd = (sum((d - mu) ** 2 for d in diffs) / len(diffs)) ** 0.5
                for i, d in enumerate(diffs, start=1):
                    out["blob_id"].append(int(blob_id))
                    out["frame_idx"].append(i)
                    out["mean_abs_diff"].append(round(d, 6))
                    out["is_cut"].append(bool(d > mu + 2 * sd))
            yield pd.DataFrame(out)

    return (
        posters.select("blob_id", "png")
        .mapInPandas(
            cuts,
            "blob_id int, frame_idx int, mean_abs_diff double, is_cut boolean",
        )
        .orderBy("blob_id", "frame_idx")
    )


@register(
    "ns_mm_scene_cut",
    oracle=None,  # pixel pipeline → rows-only; pytest pins diff structure
    doc="Shot-boundary detection: per-blob video container decoded in "
    "mapInPandas, mean-abs pixel delta between consecutive frames, cut "
    "flag at clip-adaptive mean+2σ threshold — the video segmentation "
    "step of a multimodal training pipeline (NS multimodal).",
    tags=("ns", "multimodal", "udf"),
)
def ns_mm_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scene_cut_pipeline(_posters(spark, sf_dir))


# ---------------------------------------------------------------------------
# ns_mm_pipeline_e2e — the MEDIA twin of ns_pipeline_e2e (r9, VERDICT r8
# item 3): every proven mm stage composed into ONE plan with each distinct
# image decoded exactly ONCE. The per-stage keys above each decode the
# posters themselves; a real media pipeline cannot afford k decodes for k
# stages, so the composition fuses them:
#
#   render (checkpointed once) → sha256 rep-collapse (byte-identical dups
#   never decode) → ONE mapInPandas kernel per representative that decodes
#   the poster a single time and derives ALL pixel stages from the decoded
#   array — metadata consistency (parsed IHDR vs stored dims), perceptual
#   aHash, 32×32 thumbnail re-encode, stub features, frame sampling count,
#   and scene-cut stats over the brightness-ramp frames (the ramp frames
#   are derived arrays: clip(img·scale) equals the decoded re-encoded
#   frame bit-for-bit because the engine's RGB8 codec is lossless, so no
#   container re-decode is needed) → rep-level phash near-dup pairs
#   (popcount(xor) ≤ 10, pixels never shuffle) → member-level expansion by
#   the rep map → broadcast join to the typed blob-param metadata
#   (synth.blobs_sql — the media ↔ metadata join) → per-source funnel.
#
# Output is a ≤3-row, all-scalar funnel (source = orig_blob % 3; replicas
# from the N× ladder fold onto their origin via pmod(blob_id, 1000), the
# ladder's replica id stride). Rows-only by design (the upstream is
# rendered pixels), pinned by pytest: decode counter == n_reps (each
# distinct image decoded once, accumulator-counted in the kernel),
# funnel invariants, and the duplication ladder (byte-identical replicas
# add ZERO decodes).
# ---------------------------------------------------------------------------


def mm_pipeline_e2e(
    spark: SparkSession, posters: DataFrame, decode_counter=None
) -> DataFrame:
    """The composed media pipeline over any posters-shaped relation.

    `decode_counter`: optional SparkContext accumulator incremented once
    per actual pixel decode — the pytest hook proving the one-decode-per-
    distinct-image claim on the very plan the registered key runs."""
    import struct

    from pyspark.sql.window import Window

    from ..plans.generative import NB, SEED
    from .. import synth

    def fused(batches):
        import numpy as np

        for pdf in batches:
            out = {
                "blob_id": [], "parsed_w": [], "parsed_h": [],
                "phash": [], "thumb_len": [], "n_frames": [],
                "n_cuts": [], "feat0_u": [],
            }
            for blob_id, png in zip(pdf["blob_id"], pdf["png"]):
                png = bytes(png)
                pixels, w, h = decode_png_rgb(png)  # THE one decode
                if decode_counter is not None:
                    decode_counter.add(1)
                img = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)
                # stage: perceptual aHash (same math as phash_pipeline)
                gray = img.astype(np.float64).mean(axis=2)
                ri = (np.arange(8) * h) // 8
                ci = (np.arange(8) * w) // 8
                rl = np.append(ri[1:], h)
                cl = np.append(ci[1:], w)
                blocks = np.array(
                    [
                        [gray[ri[i]:rl[i], ci[j]:cl[j]].mean()
                         for j in range(8)]
                        for i in range(8)
                    ]
                )
                bits = (blocks > blocks.mean()).astype(np.uint64).reshape(-1)
                hv = 0
                for b in bits:
                    hv = (hv << 1) | int(b)
                if hv >= 1 << 63:
                    hv -= 1 << 64
                # stage: thumbnail (nearest-neighbor, same as resize_pipeline)
                tri = (np.arange(_THUMB) * h) // _THUMB
                tci = (np.arange(_THUMB) * w) // _THUMB
                thumb = encode_png_rgb(
                    img[tri][:, tci].tobytes(), _THUMB, _THUMB
                )
                # stage: frame sampling + scene cuts over the ramp frames —
                # derived from the decoded array (the codec is lossless, so
                # clip(img*scale) IS the frame scene_cut_pipeline decodes)
                fimg = img.astype(np.float64)
                frames = [
                    np.clip(fimg * (0.5 + 0.1 * f), 0, 255)
                    .astype(np.uint8).astype(np.float64)
                    for f in range(_N_FRAMES)
                ]
                n_frames = len(range(0, _N_FRAMES, _FRAME_STEP))
                diffs = [
                    float(np.abs(frames[i] - frames[i - 1]).mean())
                    for i in range(1, _N_FRAMES)
                ]
                mu = sum(diffs) / len(diffs)
                sd = (sum((d - mu) ** 2 for d in diffs) / len(diffs)) ** 0.5
                n_cuts = sum(1 for d in diffs if d > mu + 2 * sd)
                # stage: stub features over the compressed bytes (micro-
                # quantized scalar: f0 is already 6-dp rounded)
                f0 = _stub_feature(png, _FEAT_DIM)[0]
                out["blob_id"].append(int(blob_id))
                out["parsed_w"].append(int(w))
                out["parsed_h"].append(int(h))
                out["phash"].append(hv)
                out["thumb_len"].append(len(thumb))
                out["n_frames"].append(int(n_frames))
                out["n_cuts"].append(int(n_cuts))
                out["feat0_u"].append(int(round(f0 * 1_000_000)))
            yield pd.DataFrame(out)

    # Materialize the render once; every corpus-sized relation below is a
    # narrow derivation of this checkpoint (the text pipeline's zero-
    # re-scan discipline applied to pixels).
    keyed = posters.select(
        "blob_id", "width", "height", "png",
        F.sha2(F.col("png"), 256).alias("digest"),
    ).localCheckpoint(eager=True)
    rep_map = keyed.select(
        "blob_id", "width", "height",
        F.min("blob_id").over(Window.partitionBy("digest")).alias("rep"),
    ).localCheckpoint(eager=True)
    reps = keyed.join(
        rep_map.filter(F.col("blob_id") == F.col("rep"))
        .select(F.col("blob_id").alias("rid")),
        keyed.blob_id == F.col("rid"),
    ).select("blob_id", "png")
    decoded = (
        reps.mapInPandas(
            fused,
            "blob_id bigint, parsed_w int, parsed_h int, phash bigint, "
            "thumb_len bigint, n_frames int, n_cuts int, feat0_u bigint",
        )
        .localCheckpoint(eager=True)  # consumed twice: pairs + members
    )
    # rep-level near-dup pairs: popcount(xor) on the 64-bit fingerprints
    a, b = decoded.alias("a"), decoded.alias("b")
    pairs = (
        a.join(b, F.col("a.blob_id") < F.col("b.blob_id"))
        .filter(
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
            <= _PHASH_HAMMING
        )
        .select(
            (F.pmod(F.col("a.blob_id"), F.lit(1000)) % 3).alias("source")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_near_pairs"))
    )
    # member-level expansion + the media ↔ typed-metadata broadcast join
    params = spark.sql(
        synth.blobs_sql(SEED, NB, "spark")
    ).select(
        F.col("blob_id").alias("orig"), "r",
    )
    members = (
        rep_map.join(
            F.broadcast(
                decoded.select(
                    F.col("blob_id").alias("rep"), "parsed_w", "parsed_h",
                    "thumb_len", "n_frames", "n_cuts", "feat0_u",
                )
            ),
            "rep",
        )
        .withColumn("orig", F.pmod(F.col("blob_id"), F.lit(1000)))
        .join(F.broadcast(params), "orig")
    )
    funnel = members.groupBy(
        (F.col("orig") % 3).cast("int").alias("source")
    ).agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.count_distinct(F.col("rep")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("rep"))).alias(
            "n_exact_dup"
        ),
        F.sum(
            (
                (F.col("parsed_w") == F.col("width"))
                & (F.col("parsed_h") == F.col("height"))
            ).cast("bigint")
        ).alias("n_meta_ok"),
        F.sum("n_frames").cast("bigint").alias("n_frames"),
        F.sum("n_cuts").cast("bigint").alias("n_cuts"),
        F.sum("thumb_len").alias("thumb_bytes"),
        F.sum("feat0_u").alias("feat0_u_sum"),
        F.expr(synth.sum_micro_int("r", 4)).alias("r_u_sum"),
    )
    return (
        funnel.join(pairs, "source", "left")
        .withColumn(
            "n_near_pairs", F.coalesce(F.col("n_near_pairs"), F.lit(0))
        )
        .orderBy("source")
    )


@register(
    "ns_mm_pipeline_e2e",
    oracle=None,  # rendered-pixel inputs → rows-only; pytest pins the
    # decode count, funnel invariants, and the duplication ladder
    doc="The composed media pipeline (media twin of ns_pipeline_e2e): "
    "render checkpoint → sha256 rep-collapse → ONE fused mapInPandas "
    "kernel decoding each distinct image exactly once (metadata check, "
    "aHash, thumbnail, stub features, frame sampling, scene cuts all from "
    "the single decoded array) → rep-level near-dup pairs → member "
    "expansion → broadcast join to typed blob-param metadata → all-scalar "
    "per-source funnel. Decode count is accumulator-pinned in pytest (NS "
    "multimodal).",
    tags=("ns", "multimodal", "udf", "scale"),
)
def ns_mm_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm_pipeline_e2e(spark, _posters(spark, sf_dir))
