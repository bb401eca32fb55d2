"""SparkSession factory (SURVEY.md §7.1 M0).

Local-mode settings mirror what we would set fleet-wide on a real cluster:
AQE on (runtime re-planning, skew-join splitting), Arrow on (vectorized
pandas_udf transfer), UTC session time zone (deterministic timestamp maths
against the DuckDB oracle), and shuffle partitions sized for the local box
(on a 1000-executor cluster this would be set ~2-3x total cores or left to
AQE coalescing).

Python UDFs: importing this module registers the package with
`cloudpickle.register_pickle_by_value`, so every Python-UDF closure
(applyInPandas, mapInPandas, pandas_udf, Python data sources) carries the
package code it calls by value. Workers never import the package; they
need only PySpark's own dependencies, from any driver cwd and on any
session, the engine's or a caller's. Package imports that such a closure
needs therefore sit at module level, not inside the closure.

Python workers: `get_spark` sets the static `spark.python.daemon.module` to
`w32bd_daemon` (`pydaemon/w32bd_daemon.py`). That daemon runs
`pyspark.daemon` unchanged, with one patch: a zip importer re-reads its
archive's directory only when the file changed. Without it, on Python <
3.13, PySpark's worker makes every zip importer re-read before every task
(100-120 ms a task). The module's
directory goes on the workers' `PYTHONPATH` through
`spark.executorEnv.PYTHONPATH`, so the daemon imports it from any driver
cwd. On a cluster that module is the only file to ship: it must reach the
executors and be on their `PYTHONPATH` before the first task, so ship it
with `--py-files pydaemon/w32bd_daemon.py` (YARN puts those files on the
executors' `PYTHONPATH`) or install it in the executor image. A session
handed in by a caller keeps PySpark's own daemon.
"""

from __future__ import annotations

import os
import sys
import threading
from contextlib import contextmanager

from pyspark.cloudpickle import register_pickle_by_value
from pyspark.sql import SparkSession

# Python-UDF closures carry the package code they call (module docstring).
register_pickle_by_value(sys.modules[__package__])

# The driver test tables store `events.ts` as parquet INT64 TIMESTAMP(NANOS)
# which Spark refuses by default; read nanos as long + convert in io.py.
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

# The directory that holds only the worker daemon module (module docstring).
_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pydaemon")


# AQE SortMergeJoin -> ShuffledHashJoin rewrite threshold (r13, guide
# §3.1): with AQE on, a sort-merge join whose post-shuffle partitions ALL
# measure below this many bytes is rewritten at runtime to a shuffled
# hash join — the sort on both sides disappears for joins AQE has proven
# small enough to hash. Unlike the static preferSortMergeJoin=false
# switch this decides from MEASURED partition sizes, so it cannot OOM on
# a bad estimate and is scale-safe: at 100 TB the big joins' partitions
# exceed the threshold and stay sort-merge. 64 MB per-partition build is
# conservative for any executor sized per guide §5.
#
# Ordering audit (ADVICE r13): rewriting SMJ->SHJ changes INTRA-PARTITION
# row order for any join without a final sort. Audited r14: every oracle
# comparison in this repo is order-INSENSITIVE — the driver's value-hash
# and tests/oracle.py's compare() both canonicalize by sorting on all
# columns — and every key whose OUTPUT contract is ordered ends in an
# explicit top-level ORDER BY / orderBy (the registry discipline since
# r1; the r13 single-pass rewrites moved those sorts BELOW Python nodes
# but never removed them). No key relies on SMJ's incidental key-sorted
# partition order.
_SHJ_THRESHOLD = str(64 * 1024 * 1024)

# The SQL confs the engine relies on, runtime-settable, so both the
# engine's own session (`get_spark`) and a session handed in by a caller
# (`ensure_session_confs`) get them. The driver's vanilla session defaults
# to 200 shuffle partitions — far too many tasks for sf<=0.1 local
# shuffles; AQE coalescing plus a 32-partition floor keeps task overhead
# sane without affecting results.
_SESSION_CONFS = (
    (_NANOS_CONF, "true"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", _SHJ_THRESHOLD),
    ("spark.sql.shuffle.partitions", "32"),
)


def get_spark(app_name: str = "w32bd-spark-engine") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "w32bd_daemon")
        .config("spark.executorEnv.PYTHONPATH", _DAEMON_DIR)
    )
    for key, value in _SESSION_CONFS:
        builder = builder.config(key, value)
    return builder.getOrCreate()


def ensure_session_confs(spark: SparkSession) -> None:
    """Set runtime-settable confs the engine relies on.

    The correctness driver hands us its own SparkSession; these SQL confs are
    runtime-mutable, so apply them defensively before reading tables.
    """
    for key, value in _SESSION_CONFS:
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # immutable in this deployment; io.py has a fallback path


_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict):
    """Set session confs for the body only; the one place a builder changes
    a session conf for a bounded time. One lock serializes every scope, so
    concurrent clients never snapshot each other's overrides. Keys that
    were unset before are restored by unsetting; if a set() raises (a
    static conf), the keys already applied are rolled back."""
    with _CONF_LOCK:
        applied = []
        try:
            for k, v in confs.items():
                old = spark.conf.get(k, None)
                spark.conf.set(k, v)
                applied.append((k, old))
            yield
        finally:
            for k, old in reversed(applied):
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)
