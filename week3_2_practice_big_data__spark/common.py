"""Shared cross-engine helpers used by multiple operator modules.

Centralized so the cross-engine float discipline (registry.py docstring) has
exactly one definition per rule — a precision change here propagates to every
Spark builder and stays in lockstep with the DuckDB oracle texts.

It also owns the engine's ONE materialization cache (``checkpointed``): a
session-scoped store of relations that several builders, or several
references inside one builder, reuse. Every entry is keyed by
``(applicationId, name, sf_dir, params, session uuid)``; builders never
build cache keys or hold cache dicts of their own.
"""

from __future__ import annotations

import atexit
import threading

import pyspark.sql.functions as F

# Money values are cast to DECIMAL(18,2) before summing: decimal sums are
# exact in both Spark and DuckDB, so the value-hash gate sees identical
# doubles after the final cast. The oracle-side mirror is the literal
# `CAST(x AS DECIMAL(18,2))` in each oracle SQL.
MONEY_DECIMAL = "decimal(18,2)"


def dec(col: str) -> F.Column:
    """Money column → exact DECIMAL(18,2) for summation."""
    return F.col(col).cast(MONEY_DECIMAL)


def clip01(expr: str) -> str:
    """Shared SQL text: clamp to [0,1] (np.clip, app.py:73,80)."""
    return f"least(greatest({expr}, 0e0), 1e0)"


def scratch_root() -> str:
    """The repo-local .tmp scratch root: the ONE place it is defined (sinks,
    stream chunks and checkpoints, the partitioned warehouse, bucketed
    tables and media exports all build under it)."""
    import os

    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


def scratch_dir(sf_dir: str, name: str) -> str:
    """Scratch path under ``scratch_root()`` keyed by (name, sf)."""
    import os

    return os.path.join(scratch_root(), f"{name}_{os.path.basename(sf_dir.rstrip('/'))}")


# This process's per-run directories (pid_run_dir), removed at exit.
_RUN_DIRS: set[str] = set()


def _remove_run_dirs() -> None:
    import os
    import shutil

    mine = "_" + str(os.getpid())
    for d in _RUN_DIRS:
        if d.endswith(mine):  # not a parent's, in a forked child
            shutil.rmtree(d, ignore_errors=True)


atexit.register(_remove_run_dirs)


def pid_run_dir(sf_dir: str, name: str) -> str:
    """A fresh, empty directory for one run, made on each call inside
    this process's directory ``scratch_dir(sf_dir, name)`` + ``_<pid>``.
    No two calls share one, so a second run of a sink key (or a second
    client thread) never touches the files an earlier call's returned
    frame still reads. The pid directory is removed when this process
    exits (builders may return lazy reads over it, so not before).
    Directories of the same (name, sf) left by DEAD pids — a killed
    process runs no exit hook — are removed first; live pids'
    directories are never touched (os.kill(pid, 0) probe)."""
    import os
    import shutil
    import tempfile

    root = scratch_root()
    want = os.path.basename(scratch_dir(sf_dir, name)) + "_"
    try:
        for d in os.listdir(root):
            pid_s = d[len(want):]
            if not (d.startswith(want) and pid_s.isdigit()) or int(pid_s) == os.getpid():
                continue
            try:
                os.kill(int(pid_s), 0)  # raises if the owner is gone
            except ProcessLookupError:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
            except PermissionError:
                pass  # live process owned elsewhere — leave it
    except OSError:
        pass
    mine = os.path.join(root, want + str(os.getpid()))
    _RUN_DIRS.add(mine)
    os.makedirs(mine, exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=mine)


def build_once(out: str, build, stamp: str = "") -> str:
    """Build a scratch directory exactly once, race-safely.

    A bare check-then-act on a ``_DONE`` marker can race (pytest-xdist and
    the driver sharing one repo): instead ``build(tmp)`` populates a
    private pid-suffixed sibling which is atomically rename(2)d into
    place. A loser whose rename fails because the winner's directory
    already exists discards its tmp and reads the winner's output.
    ``stamp`` is stored in the marker so outputs built under an older
    configuration are rebuilt, not silently reused.
    """
    import os
    import shutil

    marker = os.path.join(out, "_DONE")

    def done() -> bool:
        try:
            with open(marker) as f:
                return f.read() == stamp
        except OSError:
            return False

    if done():
        return out
    # pid alone is not unique enough: threads in one process (pytest main +
    # a streaming listener, or a threaded test) would share the tmp dir —
    # mkdtemp gives every CALL its own build directory.
    import tempfile

    parent = os.path.dirname(out) or "."
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(
        prefix=f"{os.path.basename(out)}.build.", dir=parent
    )
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(stamp)
    # A stale or stamp-mismatched `out` blocks the rename: move it ASIDE
    # atomically and retry once. rmtree-in-place would race a concurrent
    # winner whose rename lands between the done() check and the delete —
    # readers could watch a freshly built directory vanish file by file.
    # A rename swaps the whole directory in one step: readers see either
    # the old complete dir (their open fds stay valid) or the new one,
    # and if the moved-aside dir was a winner's, the rename below restores
    # identical content under `out` (same stamp → same build).
    for _ in range(2):
        try:
            os.rename(tmp, out)
            return out
        except OSError:
            if done():
                shutil.rmtree(tmp, ignore_errors=True)
                return out
            trash = tempfile.mkdtemp(
                prefix=f"{os.path.basename(out)}.trash.", dir=parent
            )
            try:
                os.rename(out, os.path.join(trash, "stale"))
            except OSError:
                pass
            shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def ordered_string_agg(dialect: str, expr: str, sep: str, order_by: str) -> str:
    """Deterministic ordered string aggregation — the one dialect seam for
    listagg: Spark spells it `listagg(x, sep) WITHIN GROUP (ORDER BY o)`,
    DuckDB `string_agg(x, sep ORDER BY o)`."""
    if dialect == "spark":
        return f"listagg({expr}, {sep}) WITHIN GROUP (ORDER BY {order_by})"
    return f"string_agg({expr}, {sep} ORDER BY {order_by})"


def session_key(spark) -> tuple[str, str]:
    """Stable cache key for a live SparkSession: (applicationId, session
    uuid).

    `id(spark)` (the r1–r5 key) is unsafe across session restarts — CPython
    reuses addresses, so a new session could hit a stale localCheckpoint
    bound to a DEAD context. applicationId is unique per SparkContext and
    never reused within a process. The JVM session's uuid tells apart the
    sessions of one application (``spark.newSession()``): a frame built in
    one of them cannot be bound into another's ``spark.sql``."""
    return spark.sparkContext.applicationId, spark._jsparkSession.sessionUUID()


# The materialization store: (applicationId, name, sf_dir, params, session
# uuid) -> value. One re-entrant lock guards it, so concurrent misses on
# one key build once and a build that itself calls `checkpointed` on the
# same thread proceeds.
_STORE: dict[tuple, object] = {}
_STORE_LOCK = threading.RLock()


def _memo(spark, name: str, build, sf_dir: str | None = None, params: tuple = ()):
    """Return the stored value for (session, name, sf_dir, params), calling
    ``build()`` once on a miss.

    On a miss, entries keyed to OTHER applications are evicted first
    (ADVICE r6): one live application at a time is the usage pattern, and
    without eviction a long-lived process that restarts sessions would leak
    each dead context's materialized relations forever. Entries of other
    sessions of the same application stay: those sessions are still live.
    """
    app, session = session_key(spark)
    key = (app, name, None if sf_dir is None else sf_dir.rstrip("/"), params, session)
    with _STORE_LOCK:
        if key not in _STORE:
            for k in [k for k in _STORE if k[0] != app]:
                del _STORE[k]
            _STORE[key] = build()
        return _STORE[key]


def checkpointed(spark, name: str, build, sf_dir: str | None = None, params: tuple = ()):
    """Materialize-once: eager localCheckpoint of ``build()``'s result, kept
    in the session's store under ``(name, sf_dir, params)``.

    The ONE sanctioned pattern for relations a query reads several times:
    persist() silently misses Spark's cache for plans containing
    collect_list (flagged nondeterministic) or higher-order lambdas
    (canonicalization fails), re-deriving the relation per reference —
    an RDD-backed checkpoint cannot miss.

    ``name`` identifies the relation: builders that share a relation pass
    the same name. Pass ``sf_dir`` for relations read from the tables
    (``None`` for session-only relations such as the canvas grid) and
    ``params`` (a hashable tuple) for any other input the result depends
    on. Keys of other applications are evicted on a miss (see ``_memo``).
    """
    return _memo(spark, name, lambda: build().localCheckpoint(eager=True), sf_dir, params)


def local_rows_df(spark, schema_ddl: str, rows):
    """Driver-computed small result rows as a PURE-JVM local relation.

    ``spark.createDataFrame(rows, ddl)`` wraps the rows in a Python RDD,
    so EVERY action on the result (each bench pass's noop write, each
    oracle collect) pays a Python-worker round trip — measured 0.35 s
    steady / >1 s when the worker pool is cold (the r13→r14
    dq_observe_metrics in-bench anomaly: the bench prefix leaves no idle
    worker, so every pass re-spawned one). Building the same rows as
    literal columns over ``spark.range(1)`` + UNION keeps the relation
    JVM-only (~0.08 s per action) — same values, same schema (the
    ``when(True, …)`` wrapper pins every field nullable, matching
    createDataFrame's DDL-schema nullability).

    Scalars only (int/float/str/bool/None); use createDataFrame for
    anything nested or larger than a few hundred rows. The DDL is parsed by
    Spark (so ``decimal(18,2)`` is one field), and a row whose arity differs
    from the schema raises instead of being truncated.
    """
    from pyspark.sql.types import StructType

    fields = [(f.name, f.dataType) for f in StructType.fromDDL(schema_ddl).fields]
    out = None
    for row in rows:
        if len(row) != len(fields):
            raise ValueError(
                f"row {row!r} has {len(row)} values; schema has {len(fields)}"
            )
        cols = [
            F.when(F.lit(True), F.lit(v).cast(t)).alias(n)
            for (n, t), v in zip(fields, row)
        ]
        df = spark.range(1).select(*cols)
        out = df if out is None else out.unionAll(df)
    if out is None:  # zero rows: empty relation with the right schema
        out = (
            spark.range(1)
            .select(
                *[
                    F.when(F.lit(True), F.lit(None).cast(t)).alias(n)
                    for n, t in fields
                ]
            )
            .limit(0)
        )
    return out
