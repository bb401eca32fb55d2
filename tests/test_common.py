"""common.py contracts: the session-scoped materialization cache
(``checkpointed``) and the literal-row relation builder (``local_rows_df``).

The cache tests are Spark-free, except the one that binds a stored frame in
a second session: a fake session exposes only ``sparkContext.applicationId``
and its JVM session's ``sessionUUID``, and a fake frame counts its
``localCheckpoint`` calls, so every build is observable."""

from __future__ import annotations

import sys
import threading
import time
from decimal import Decimal
from types import SimpleNamespace

import pytest

from week3_2_practice_big_data__spark import common
from week3_2_practice_big_data__spark.common import checkpointed, local_rows_df

SF = "/data/sf0.01"


class _Frame:
    def __init__(self):
        self.checkpoints = 0

    def localCheckpoint(self, eager=True):
        assert eager
        self.checkpoints += 1
        return self


class _Build:
    """A build callable that counts its calls."""

    def __init__(self, delay: float = 0.0):
        self.calls, self.delay = 0, delay

    def __call__(self):
        self.calls += 1
        time.sleep(self.delay)
        return _Frame()


def _session(app_id: str = "app-1"):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId=app_id),
        _jsparkSession=SimpleNamespace(sessionUUID=lambda: "session-1"),
    )


@pytest.fixture(autouse=True)
def store(monkeypatch):
    """A private store, so these tests never evict the live session's
    entries from the shared one."""
    fresh: dict = {}
    monkeypatch.setattr(common, "_STORE", fresh)
    return fresh


def test_checkpointed_hits_on_same_key():
    spark, build = _session(), _Build()
    a = checkpointed(spark, "rel", build, SF + "/", ("x",))
    b = checkpointed(spark, "rel", build, SF, ("x",))
    assert a is b and build.calls == 1 and a.checkpoints == 1


@pytest.mark.parametrize(
    "other", [{"name": "rel2"}, {"sf_dir": "/data/sf0.1"}, {"params": ("y",)}]
)
def test_checkpointed_misses_on_different_key(other):
    spark, build = _session(), _Build()
    base = {"name": "rel", "sf_dir": SF, "params": ("x",)}
    a = checkpointed(spark, build=build, **base)
    b = checkpointed(spark, build=build, **{**base, **other})
    assert a is not b and build.calls == 2


def test_checkpointed_evicts_other_sessions(store):
    build = _Build()
    checkpointed(_session("app-1"), "rel", build, SF)
    checkpointed(_session("app-1"), "other", build)
    assert {k[0] for k in store} == {"app-1"} and len(store) == 2
    checkpointed(_session("app-2"), "rel", build, SF)
    assert {k[0] for k in store} == {"app-2"} and len(store) == 1
    # the dead session's entry is gone: coming back to it rebuilds
    checkpointed(_session("app-1"), "rel", build, SF)
    assert build.calls == 4


def test_checkpointed_concurrent_misses_build_once():
    spark, build = _session(), _Build(delay=0.05)  # widen the race window
    start, results = threading.Barrier(8), []

    def worker():
        start.wait()
        results.append(checkpointed(spark, "rel", build, SF))

    threads = [threading.Thread(target=worker) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # force thread switches inside the check
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(results) == 8 and build.calls == 1
    assert all(r is results[0] for r in results) and results[0].checkpoints == 1


def test_checkpointed_nested_build_does_not_deadlock(store):
    spark, inner = _session(), _Build()

    def outer():
        checkpointed(spark, "inner", inner, SF)
        return _Frame()

    done = []
    t = threading.Thread(
        target=lambda: done.append(checkpointed(spark, "outer", outer, SF)), daemon=True
    )
    t.start()
    t.join(timeout=10)
    assert not t.is_alive(), "nested checkpointed deadlocked"
    assert len(done) == 1 and inner.calls == 1
    assert {k[1] for k in store} == {"inner", "outer"}


def test_checkpointed_binds_in_each_session_of_one_app(spark):
    """A frame stored from one session is never handed to another session
    of the same application (``spark.newSession()``): binding it into that
    session's ``spark.sql`` would fail with TABLE_OR_VIEW_NOT_FOUND."""
    other = spark.newSession()
    checkpointed(spark, "range3", lambda: spark.range(3))
    df = checkpointed(other, "range3", lambda: other.range(3))
    assert other.sql("SELECT count(*) AS n FROM {t}", t=df).first()["n"] == 3


def test_local_rows_df_parses_parameterized_types(spark):
    df = local_rows_df(
        spark, "flag string, amount decimal(18,2), n bigint", [("A", Decimal("12.34"), 3)]
    )
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("flag", "string"),
        ("amount", "decimal(18,2)"),
        ("n", "bigint"),
    ]
    assert [tuple(r) for r in df.collect()] == [("A", Decimal("12.34"), 3)]


def test_local_rows_df_rejects_short_row(spark):
    with pytest.raises(ValueError, match="2 values; schema has 3"):
        local_rows_df(spark, "a bigint, b bigint, c bigint", [(1, 2, 3), (1, 2)])
