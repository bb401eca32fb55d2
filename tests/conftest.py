from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from week3_2_practice_big_data__spark import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def stream_hygiene(spark):
    """What a streaming builder must leave as it found it: the active
    queries, the temp views, and the confs streams._query scopes to
    start()."""
    return (
        [q.name for q in spark.streams.active],
        {t.name for t in spark.catalog.listTables() if t.isTemporary},
        spark.conf.get("spark.sql.shuffle.partitions", None),
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None),
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass", None),
    )


def newest_run_dir(name: str, sf_dir: str = SF_SMALL) -> str:
    """The run directory that the latest `common.pid_run_dir(sf_dir,
    name)` call of this process made: each call makes a fresh one inside
    the process's `<name>_<sf>_<pid>` directory."""
    from week3_2_practice_big_data__spark.common import scratch_dir

    runs = f"{scratch_dir(sf_dir, name)}_{os.getpid()}"
    return max(
        (os.path.join(runs, d) for d in os.listdir(runs)), key=os.path.getmtime
    )


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    session = get_spark("w32bd-tests")
    session.sparkContext.setLogLevel("ERROR")
    yield session
