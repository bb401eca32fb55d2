"""Tests of the benchmark's pure helpers; no Spark needed.

    python3 -m pytest perfbench -q
"""

import datetime
import decimal
import math

import numpy as np
import pandas as pd
import pytest

from check import (
    Outcomes,
    canon,
    fingerprint,
    frame_fingerprint,
    percentile,
    tail_percentile,
)
from spans import parse_metric_text


# --- the tail-percentile rule ------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [
        (0, None), (10, None), (19, None),  # not even ten beyond the median
        (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
        (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_tail_percentile_is_the_highest_that_qualifies():
    for n in range(20, 3000, 7):
        p = tail_percentile(n)
        assert n * (100 - p) / 100 >= 10
        higher = [q for q in (75.0, 90.0, 95.0, 99.0, 99.9) if q > p]
        assert all(n * (100 - q) / 100 < 10 for q in higher)


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    with pytest.raises(ValueError):
        percentile([], 50)


# --- canonical cells and fingerprints ------------------------------------------


def test_null_and_nan_are_one_value():
    assert canon(None) is None
    assert canon(float("nan")) is None
    assert canon(np.float64("nan")) is None
    assert canon(pd.NA) is None
    assert canon(pd.NaT) is None


def test_numbers_compare_across_types():
    assert canon(3) == canon(3.0) == canon(np.int64(3)) == canon(decimal.Decimal("3.00"))
    assert canon(decimal.Decimal("12.50")) == canon(12.5)
    assert canon(0.1) == repr(0.1)
    assert canon(0.1) != canon(0.1 + 1e-16)  # no tolerance: floats must be exact
    assert canon(True) is True and canon(np.bool_(False)) is False


def test_arrays_structs_maps():
    assert canon(np.array([1.0, float("nan"), 2.5])) == (1, None, repr(2.5))
    assert canon([1, [2, None]]) == (1, (2, None))
    assert canon((1, "a")) == (1, "a")
    assert canon({"b": 2, "a": 1}) == canon({"a": 1, "b": 2})
    assert canon(b"\x01\xff") == "0x01ff"


def test_dates_and_timestamps():
    assert canon(datetime.date(2024, 1, 2)) == "2024-01-02"
    assert canon(pd.Timestamp("2024-01-02")) == "2024-01-02"
    assert canon(datetime.datetime(2024, 1, 2, 3, 4, 5)) == "2024-01-02T03:04:05"
    utc = datetime.datetime(2024, 1, 2, 3, tzinfo=datetime.timezone.utc)
    assert canon(utc) == "2024-01-02T03:00:00"


def test_unknown_types_are_rejected():
    with pytest.raises(TypeError):
        canon(object())


def test_fingerprint_ignores_row_and_column_order():
    a = fingerprint(["x", "y"], [(1, "a"), (2, None)])
    b = fingerprint(["y", "x"], [(float("nan"), 2.0), ("a", 1)])
    assert a == b
    assert a.rows == 2


def test_fingerprint_sees_values_counts_and_names():
    base = fingerprint(["x"], [(1,), (2,)])
    assert fingerprint(["x"], [(1,), (3,)]) != base
    assert fingerprint(["x"], [(1,), (2,), (2,)]) != base
    assert fingerprint(["z"], [(1,), (2,)]) != base


def test_frame_fingerprint_matches_rows_fingerprint():
    pdf = pd.DataFrame({"k": [2, 1], "v": [[1.5, 2.0], [0.5, math.nan]]})
    assert frame_fingerprint(pdf) == fingerprint(
        ["k", "v"], [(1, [0.5, None]), (2, [1.5, 2])]
    )


# --- failure counting ----------------------------------------------------------


def test_outcomes_count_failures_by_reason():
    o = Outcomes()
    for error in (None, "timeout", None, "output differs", "timeout"):
        o.record(error)
    assert (o.attempted, o.failed) == (5, 3)
    assert o.reasons == {"timeout": 2, "output differs": 1}
    assert o.fail_ratio == pytest.approx(0.6)


def test_no_attempts_is_a_total_failure():
    assert Outcomes().fail_ratio == 1.0


# --- status-store metric text --------------------------------------------------


@pytest.mark.parametrize(
    "text, value",
    [
        ("60,000", 60000.0),
        ("836.5 KiB", 836.5 * 1024),
        ("2.1 s", 2100.0),
        ("428 ms", 428.0),
        ("total (min, med, max (stageId: taskId))\n181 ms (57 ms, 124 ms, 124 ms)", 181.0),
        ("", 0.0),
    ],
)
def test_parse_metric_text(text, value):
    assert parse_metric_text(text) == pytest.approx(value)
