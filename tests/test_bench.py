"""bench.py's contract with its callers: one JSON line on stdout, no file."""

from __future__ import annotations

import json
import os

from .conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_prints_one_json_line_and_writes_nothing(spark, monkeypatch, capsys):
    import bench

    monkeypatch.setattr(bench, "HEADLINE", ["agg_groupby_multi", "stream_tumbling_agg"])
    monkeypatch.setattr(bench, "SF_DIR", SF_SMALL)
    before = sorted(os.listdir(REPO))
    bench.main()
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    out = json.loads(lines[0])
    assert {"metric", "value", "unit", "queries", "sf"} <= set(out)
    assert set(out["queries"]) == {"agg_groupby_multi", "stream_tumbling_agg"}
    assert out["value"] == round(sum(out["queries"].values()), 4)
    assert out["sf"] == 0.001
    assert sorted(os.listdir(REPO)) == before
