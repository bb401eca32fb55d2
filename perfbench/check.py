"""Pure helpers: output fingerprints, the tail-percentile rule, failure counts.

Nothing here imports Spark, so the helpers are unit-tested on their own
(`python3 -m pytest perfbench -q`).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
from dataclasses import dataclass, field

import pandas as pd

# Tail percentiles considered, highest last.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def canon(v):
    """Canonical, engine-independent form of one output cell.

    NULL and NaN are the same value (a missing outer-join cell surfaces as
    None on one side and NaN on the other); integral floats equal ints and
    decimals equal their float value, so a column typed BIGINT by one engine
    and DOUBLE or DECIMAL by the other still matches; a midnight timestamp
    equals its date; arrays, structs and maps compare element-wise.
    """
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, str):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        if f.is_integer() and abs(f) < 2**53:
            return int(f)
        return repr(f)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        if v.time() == datetime.time(0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted(((canon(k), canon(x)) for k, x in v.items()), key=repr))
    if hasattr(v, "item") and getattr(v, "ndim", None) == 0:
        return canon(v.item())  # NumPy scalar (np.int64, np.float64, np.bool_)
    if hasattr(v, "tolist"):
        return canon(v.tolist())  # NumPy array
    if isinstance(v, (list, tuple)):  # includes pyspark Row
        return tuple(canon(x) for x in v)
    raise TypeError(f"no canonical form for {type(v).__name__}")


@dataclass(frozen=True)
class Fingerprint:
    """Order-insensitive identity of a result table."""

    rows: int
    digest: str


def fingerprint(columns, rows) -> Fingerprint:
    """Fingerprint of `rows` (iterables of cells, in `columns` order).

    Columns are put in name order and rows in canonical order, so two
    engines' results match whatever order either produced them in.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return Fingerprint(len(lines), h.hexdigest())


def frame_fingerprint(pdf) -> Fingerprint:
    """Fingerprint of a pandas DataFrame."""
    return fingerprint(list(pdf.columns), pdf.itertuples(index=False, name=None))


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ten of `n` samples beyond it.

    With n samples, the samples strictly above the p-th percentile number
    n * (100 - p) / 100; None when even the median has fewer than ten.
    """
    best = None
    for p in TAIL_LADDER:
        if round(n * (100.0 - p)) >= 100 * TAIL_MIN_BEYOND:
            best = p
    return best


def percentile(values, p: float) -> float:
    """The p-th percentile of `values` by linear interpolation."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


@dataclass
class Outcomes:
    """Attempted and failed operations; an op fails when it raised, timed
    out, or returned a result that did not match its reference."""

    attempted: int = 0
    failed: int = 0
    reasons: dict[str, int] = field(default_factory=dict)

    def record(self, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.reasons[error] = self.reasons.get(error, 0) + 1

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
