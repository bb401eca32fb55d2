"""The benchmark's workloads: what one op is, how a seed orders the ops of a
pass, and the reference each op's output is checked against.

Every workload is driven by one closed-loop client: the next op is sent
only after the previous one returned.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np
import pandas as pd

from week3_2_practice_big_data__spark import REGISTRY
from week3_2_practice_big_data__spark.plans.generative import _composite_sql
from week3_2_practice_big_data__spark.plans.png import encode_png_rgb, png_dimensions


@dataclass(frozen=True)
class Op:
    """One request. `key` names a REGISTRY entry, or is 'poster' with the
    UI parameters in `params`."""

    key: str
    params: tuple = ()

    @property
    def label(self) -> str:
        return self.key if not self.params else f"{self.key}{dict(self.params)}"


@dataclass
class Result:
    """What an op returned; the runner fingerprints `frame` after the op's
    timer has stopped."""

    frame: pd.DataFrame
    problem: str | None = None  # a check that needs no reference failed


class Workload:
    name: str
    sf: str  # scale of the fixture tables the ops read (a key of datagen.ROWS)
    warmup_ops: int  # ops run before timing starts
    timed_passes: int  # wall_s is the median over this many timed passes

    def pass_ops(self, rng: random.Random) -> list[Op]:
        raise NotImplementedError

    def run(self, spark, op: Op, data_dir: str, tracer, probe) -> Result:
        raise NotImplementedError

    def reference_sql(self, op: Op) -> str:
        raise NotImplementedError


class StreamIngest(Workload):
    """Micro-batch streams; each pass runs every key once, in seeded order.
    The streams run inside their REGISTRY builders."""

    name = "stream_ingest"
    sf = "0.01"
    keys = ("stream_custom_state",)
    warmup_ops = len(keys)  # one pass: every key's first call is untimed
    timed_passes = 3

    def pass_ops(self, rng):
        keys = list(self.keys)
        rng.shuffle(keys)
        return [Op(k) for k in keys]

    def run(self, spark, op, data_dir, tracer, probe):
        with tracer.span("build", key=op.key):
            df = REGISTRY[op.key].builder(spark, data_dir)
        with tracer.span("action"):
            pdf = df.toPandas()
        probe(df)
        return Result(pdf)

    def reference_sql(self, op):
        return REGISTRY[op.key].oracle


# The reference UI's sliders and pickers (app.py:107-113).
LIGHTS = (
    ("-0.6e0", "0.8e0"), ("0.4e0", "-0.7e0"), ("0.8e0", "0.6e0"),
    ("-0.7e0", "-0.4e0"), ("0e0", "1e0"),
)
# Blob counts from the n_blobs slider's range (at most 30, 14 by default);
# a render's time hardly depends on it.
N_BLOBS = (6, 9, 14, 20)
THEMES = (None, "cool", "warm", "neutral")
EDITS = ("seed", "n_blobs", "light", "theme")


class PosterInteractive(Workload):
    """A user editing one UI parameter at a time; each edit re-renders the
    full poster through the parameterized composite plan, collects its
    pixels and encodes a PNG."""

    name = "poster_interactive"
    sf = "0.01"  # renders read no tables; only the reference needs views
    canvas = 64  # gen_poster_param's canvas, at which its oracle is checked
    # Each new plan is compiled anew: renders fall from about 15 s to about
    # 3 s over the first four, and to about 2.5 s by the tenth. A longer
    # warm-up or a third timed pass would not fit the time budget.
    warmup_ops = 4
    timed_passes = 2

    def __init__(self) -> None:
        self.state = dict(seed=42, nb=14, light=LIGHTS[0], theme=None)

    def pass_ops(self, rng):
        ops = []
        edits = list(EDITS)
        rng.shuffle(edits)
        for edit in edits:
            s = self.state
            if edit == "seed":
                s["seed"] = rng.randrange(1, 100_000)
            elif edit == "n_blobs":
                s["nb"] = rng.choice([n for n in N_BLOBS if n != s["nb"]])
            elif edit == "light":
                s["light"] = rng.choice([v for v in LIGHTS if v != s["light"]])
            else:
                s["theme"] = rng.choice([t for t in THEMES if t != s["theme"]])
            ops.append(Op("poster", tuple(sorted(s.items(), key=lambda kv: kv[0]))))
        return ops

    def _sql(self, op: Op, dialect: str) -> str:
        p = dict(op.params)
        return _composite_sql(
            dialect, seed=p["seed"], nb=p["nb"], canvas=self.canvas,
            lx=p["light"][0], ly=p["light"][1], theme=p["theme"], scanline=True,
        )

    def run(self, spark, op, data_dir, tracer, probe):
        with tracer.span("plan"):
            df = spark.sql(self._sql(op, "spark"))
        with tracer.span("action"):
            pdf = df.toPandas()
        probe(df)
        with tracer.span("png.encode"):
            rgb = pdf[["r", "g", "b"]].to_numpy()
            pixels = np.clip(np.rint(rgb * 255.0), 0, 255).astype(np.uint8)
            png = encode_png_rgb(pixels.tobytes(), self.canvas, self.canvas)
        problem = None
        if png_dimensions(png) != (self.canvas, self.canvas):
            problem = "png dimensions"
        return Result(pdf, problem)

    def reference_sql(self, op):
        return self._sql(op, "duckdb")


WORKLOADS = {w.name: w for w in (PosterInteractive, StreamIngest)}
