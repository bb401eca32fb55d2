"""True Structured Streaming operators (SURVEY.md §2.1-I, §7.1 M5).

`readStream` file-source micro-batches over the events table: the table is
re-sharded into time-ordered chunks under .tmp/ (`_chunk_dir`: one chunk
set per (sf, dup_first, sentinels), shared by every key) and every key
reads it through ONE function, `_event_stream`, at one or two files per
trigger so the watermark actually advances across batches — that is what
makes append-mode window finalization and late-row dropping observable.
Results land in a memory sink and come back as a normal batch DataFrame
for the caller (pure-streaming semantics get the rows-only check; pytest
asserts the containment/drop properties vs the batch oracles).

Sinks: the eight keys that share the finalized-window oracle
(_WM_LATE_ORACLE) run ONE query, `_finalized_windows`, and differ only in
what surrounds it — a memory, parquet, foreach-row or Python Data Source
sink, the RocksDB state store, a socket source, a checkpoint restart.
The Python Data Source writers share one staged-commit sink kit
(`_jsonl_sink`, `_committed_rows`) in sources/generators.py;
`_jsonl_rows` reads the jsonl files those sinks stage. Every sink run
writes to its own fresh directory (`common.pid_run_dir`), so a frame an
earlier call returned stays readable when the key runs again.

Shapes: each stream shape that several keys share is built once. The
three join keys take the watermarked clicks x views range join from
`_click_view_pairs` (their oracles from `_CLICK_VIEW_PAIR` and
`_sentinel_wm`); the two restart keys run `_two_lives`; the session
keys count with `_session_count`; the two state-reader keys read the
checkpoint `_statestore_checkpoint` builds.

Scale notes: this is the same topology as a production job (source →
watermarked stateful op → sink); swap `_event_stream`'s one `readStream`
line for a Kafka source and the memory sink for a Delta/parquet sink and
nothing else changes. Watermark bounds state: ~(delay/window) open
windows per key.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import synth
from ..common import build_once, pid_run_dir, scratch_dir
from ..io import EVENTS_SCHEMA, load_table
from ..registry import register
from ..session import scoped_confs
from ..operators.analytics import _GAP_US as _SESS_GAP_US
from ..operators.analytics import _sessionize_sql as _session_batch_sql

_CHUNKS = 4
_WATERMARK = "10 minutes"
_WATERMARK_US = 600_000_000  # the same 10 minutes, in microseconds


def _stream_partitions(spark: SparkSession) -> int:
    """Shuffle width for STREAMING queries, which is also the number of
    state-store instances per stateful operator: max(4, cores // 8), for
    JVM and Python state alike. Every instance pays a commit on every
    micro-batch whatever its data, and at micro-batch scale that fixed
    cost dominates. Size streaming shuffles to the cores, never to the
    batch data volume; a real cluster re-sizes through its own session
    conf before the query starts. Every figure below was taken on a 4-core
    VM, where the rule gives 4; no other core count was measured.

    JVM state: the chained join + agg at sf0.1 took 33 s at 32 partitions
    against 8.4 s at 8, and in a later run 8.5 s at 8 against 6.2 s at 4.

    Python state (applyInPandasWithState): 4 partitions on 4 cores make a
    micro-batch one wave of Python tasks. Two fixed costs of a task are
    gone. Its worker's zip importers no longer re-read their archives
    before every task (the engine's worker daemon, see session.get_spark):
    that call took over 100 ms a task and now takes 0.1-0.2 ms. Its state
    commit no longer forks `readlink` commands (_query's checkpoint file
    manager): an op's commits fell from 540-570 ms to 50-80 ms.
    stream_custom_state, builder + toPandas, median of 3 ops after a
    warm-up:

        partitions    sf0.01    sf0.1
        8             1.32 s    2.14 s
        4             1.05 s    1.84 s
        2             1.16 s    2.30 s

    Four partitions win at both scales."""
    return max(4, spark.sparkContext.defaultParallelism // 8)


_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# How long _query waits for a started query to build its sources.
_INIT_TIMEOUT_MS = 60_000


@contextmanager
def _query(
    spark: SparkSession,
    writer,
    *,
    confs: dict | None = None,
):
    """The one streaming-query lifecycle. Starts `writer` under a name
    unique to this call (w32bd_<uuid4 hex>), so clients sharing a session
    never stop or read each other's query. Two confs are scoped to the
    query's start, with any `confs`: the streaming shuffle width
    (`_stream_partitions`) and the checkpoint file manager,
    FileSystemBasedCheckpointFileManager. Spark's default manager renames
    through FileContext, whose link check forks a `readlink` shell command
    8 times per renamed file when Hadoop has no native library;
    FileSystem.rename forks none, and files are still written to a temp
    path and renamed. It covers every offset, commit and source log entry,
    state-store delta and sink metadata file.

    The scope lasts until the query has built its sources, not only until
    start() returns: start() returns before the stream thread builds them,
    and a file source's metadata log (`<checkpoint>/sources/<n>`) reads
    the session conf when it is built. The query copies the rest of the
    session conf when it starts, so nothing outlives the scope. Yields the
    query; on exit stops it and drops its memory-sink view. Read a memory
    sink with _sink(spark, q) inside the block; that DataFrame stays valid
    after the view is dropped."""
    name = f"w32bd_{uuid.uuid4().hex}"
    scoped = {
        "spark.sql.shuffle.partitions": str(_stream_partitions(spark)),
        "spark.sql.streaming.checkpointFileManagerClass": _CHECKPOINT_FILE_MANAGER,
        **(confs or {}),
    }
    query = None
    try:
        with scoped_confs(spark, scoped):
            query = writer.queryName(name).start()
            # returns once the sources are built, or raises the query's
            # error if it died first
            query._jsq.streamingQuery().awaitInitialization(_INIT_TIMEOUT_MS)
        yield query
    finally:
        try:
            if query is not None:
                query.stop()
        finally:
            spark.catalog.dropTempView(name)


def _sink(spark: SparkSession, q) -> DataFrame:
    """The one reader of a memory sink: the rows of query `q`'s sink as
    one partition. The sink is a LocalTableScan of rows already on the
    driver, so a sort, window or aggregate above it runs locally, with no
    exchange and in one job."""
    return spark.table(q.name).coalesce(1)


class _QueryEvents:
    """What a session StreamingQueryListener saw, by query id: `started`
    and `terminated` ids in delivery order, and each query's progress
    events (`progress(qid)`)."""

    def __init__(self):
        self.started, self.terminated, self._progress = [], [], []

    def progress(self, qid: str) -> list:
        return [p for p in self._progress if str(p.id) == qid]

    def wait(self, qid: str, timeout_s: float = 30.0) -> None:
        """Block until query qid's terminated event is delivered. The
        listener bus is async but ordered, so by then every earlier event
        of that query was delivered too."""
        import time

        deadline = time.monotonic() + timeout_s
        while qid not in self.terminated:
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"QueryTerminatedEvent not delivered within {timeout_s:g} s"
                )
            time.sleep(0.1)


@contextmanager
def _query_events(spark: SparkSession):
    """Attach a StreamingQueryListener to the session for the block and
    yield its _QueryEvents; the listener is removed in `finally`."""
    from pyspark.sql.streaming import StreamingQueryListener

    events = _QueryEvents()

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            events.started.append(str(event.id))

        def onQueryProgress(self, event):
            events._progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            events.terminated.append(str(event.id))

    listener = _Listener()
    spark.streams.addListener(listener)
    try:
        yield events
    finally:
        spark.streams.removeListener(listener)


# Far-future sentinel offset (30 min past max real ts): final watermark =
# max_ts + 30 min - 10 min, so unmatched clicks in the last 5 h 40 min of
# real data stay withheld — both outer-join branches keep mass.
_SSOJ_SENT_OFFSET_US = 1_800_000_000


def _chunk_dir(
    spark: SparkSession, sf_dir: str, dup_first: int = 0, sentinels: int = 0
) -> str:
    """Write events as _CHUNKS time-ordered parquet files; optionally append
    a final chunk duplicating the first `dup_first` rows (late + duplicate
    data for the dedup/watermark paths). The files are a function of
    (sf_dir, dup_first, sentinels) alone, so the directory is named by
    exactly that: one chunk set per configuration, shared by every key
    that reads it.

    `sentinels` > 0 appends that many trailing single-pair chunk files
    (one 'click' + one 'view' row, user_id = -(i+1), ts = max real ts +
    _SSOJ_SENT_OFFSET_US) — far-future rows that pass both side filters of
    the stream-stream joins and so deterministically advance BOTH sources'
    watermarks and run state eviction inside DATA batches. Without them
    the final evictions ride the trailing no-data micro-batch, which
    processAllAvailable is NOT guaranteed to wait for (observed flaky at
    sf0.001: one eviction-eligible click intermittently withheld). The
    sentinel view sits 1 s BEFORE its click, so the pair never matches
    itself; user_id < 0 matches no real user."""
    stamp = f"dup_first={dup_first}" + (
        f",sentinels={sentinels}" if sentinels else ""
    )
    out = scratch_dir(sf_dir, f"stream_chunks_d{dup_first}_s{sentinels}")

    def build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        n = ev.count()
        per = (n + _CHUNKS - 1) // _CHUNKS
        # stable chunking by row_number over ts
        from pyspark.sql.window import Window

        ranked = ev.withColumn(
            "_rn", F.row_number().over(Window.orderBy("ts", "event_id"))
        ).withColumn("_chunk", ((F.col("_rn") - 1) / per).cast("int"))
        for c in range(_CHUNKS):
            (
                ranked.filter(F.col("_chunk") == c)
                .drop("_rn", "_chunk")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(tmp, f"chunk={c:02d}"))
            )
        if dup_first:
            (
                ranked.filter(F.col("_rn") <= dup_first)
                .drop("_rn", "_chunk")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(tmp, f"chunk={_CHUNKS:02d}_dups"))
            )
        for i in range(sentinels if n > 0 else 0):
            # (empty source: max(ts) is NULL — no sentinels, the whole
            # stream is empty and the oracle's wm CTE is NULL-vacuous too)
            sent = spark.sql(
                f"""
SELECT CAST(-1 - {i} AS BIGINT) AS event_id,
  timestampadd(MICROSECOND, {_SSOJ_SENT_OFFSET_US},
               (SELECT max(ts) FROM {{ev}})) AS ts,
  CAST(-1 - {i} AS BIGINT) AS user_id, t.event_type,
  CAST(0e0 AS DOUBLE) AS value, CAST(NULL AS STRING) AS props
FROM VALUES ('click'), ('view') AS t(event_type)
""",
                ev=ev,
            ).withColumn(
                "ts",
                F.when(
                    F.col("event_type") == "view",
                    F.expr("timestampadd(SECOND, -1, ts)"),
                ).otherwise(F.col("ts")),
            )
            (
                sent.coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(tmp, f"chunk={90 + i:02d}_sent"))
            )

    return build_once(out, build, stamp=stamp)


def _event_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files: int = 1,
    *,
    dup_first: int = 0,
    sentinels: int = 0,
    path: str | None = None,
) -> DataFrame:
    """The one reader of the chunked events: the (sf_dir, dup_first,
    sentinels) chunk set from _chunk_dir as a file-source stream with the
    events schema, `max_files` chunk files per micro-batch. `path` reads a
    stage directory holding copies of chunk files instead (the two-life
    restart keys reveal chunks into one). This `readStream` is the line a
    Kafka deployment swaps for its broker source.

    max_files (r14, the fixed-cost class): every micro-batch
    pays trigger + state-store-commit machinery regardless of data, so
    keys whose RESULT is a pure function of the final watermark (append
    union is cumulative-monotone; no oracle encodes the chunk→batch
    mapping) run 2 files per trigger — half the batches, identical
    output (hash-proven per key at 3 SFs). Keys whose oracle or
    demonstration depends on per-chunk batching (dedup replay ordering,
    sentinel-driven eviction, n_updates progressions) stay at 1."""
    if path is None:
        path = _chunk_dir(spark, sf_dir, dup_first, sentinels)
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def _run_stream(
    spark: SparkSession, frame: DataFrame, confs: dict | None = None
) -> DataFrame:
    """Run the streaming `frame` to completion into a memory sink (append
    mode) and return the sink's rows."""
    writer = frame.writeStream.format("memory").outputMode("append")
    with _query(spark, writer, confs=confs) as q:
        q.processAllAvailable()
        return _sink(spark, q)


def _jsonl_rows(out: str, names) -> list[tuple]:
    """The rows of the jsonl files `names` in `out`, in that order: one
    tuple per line, each line one JSON array (how stream_sink_foreach_rows'
    writer and the staged-commit sink in sources/generators.py write rows)."""
    import json

    rows = []
    for name in names:
        with open(os.path.join(out, name)) as f:
            rows += [tuple(json.loads(line)) for line in f]
    return rows


# Batch-equivalence oracle under LOCKSTEP IN-ORDER ARRIVAL (r5, the
# stream_stream_join trick applied to watermark finalization): the chunked
# source replays events in (ts, event_id) order, so the event-time
# watermark — max event time seen minus the 10-minute delay, tracked by
# Spark in MILLISECONDS — advances monotonically and never drops a live
# row (dup_first=0: nothing arrives late). Append mode then emits exactly
# the windows finalized by the FINAL watermark: window_end <= wm. That
# emitted set is a pure batch expression: the tumbling counts restricted
# to windows whose end has been passed by floor_ms(max(ts) - 10 min) —
# which upgrades this key from rows-only to fully hash-checked. The
# ms-floor matters only when max(ts) lands within 1 ms above
# window_end + delay; the oracle reproduces Spark's truncation exactly.
_WM_LATE_ORACLE = f"""
WITH wm AS (
  SELECT CAST(floor((max(epoch_us(ts)) - {_WATERMARK_US}) / 1000e0) AS BIGINT)
    AS wm_ms
  FROM events
),
agg AS (
  SELECT CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 AS win_start,
    event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT win_start, event_type, n
FROM agg CROSS JOIN wm
WHERE (win_start + 600) * 1000 <= wm.wm_ms
ORDER BY win_start, event_type
"""


def _finalized_windows(s: DataFrame) -> DataFrame:
    """The one finalized-window query, behind every sink whose key carries
    _WM_LATE_ORACLE: 600 s tumbling counts per event_type under the
    10-minute watermark, as (win_start, event_type, n). In append mode a
    window is emitted once the watermark passes its end, so each sink
    holds exactly the windows the final watermark finalized."""
    return (
        s.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "600 seconds"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "n",
        )
    )


@register(
    "stream_watermark_late",
    oracle=_WM_LATE_ORACLE,
    doc="readStream tumbling agg under withWatermark('ts','10 minutes'), "
    "append mode: only watermark-finalized windows are emitted; late rows "
    "beyond the watermark are dropped. Complete batch-equivalence oracle "
    "under lockstep in-order arrival (r5): emitted set = tumbling counts "
    "for windows with end <= ms-floored final watermark (NS).",
    tags=("streaming", "stateful"),
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_files=2 (r14): the emitted set is windows with end <= FINAL
    # watermark — a cumulative-monotone union invariant to how the four
    # ts-ordered chunks batch (watermark still advances across the two
    # data batches; the final finalization rides the same trailing
    # no-data batch it always did). Hash-proven identical at 3 SFs.
    stream = _event_stream(spark, sf_dir, max_files=2)
    return _run_stream(spark, _finalized_windows(stream)).orderBy(
        "win_start", "event_type"
    )


# Batch-equivalence oracle under lockstep arrival (r5): the four main
# chunks carry every event exactly once in ts order; the appended
# duplicate chunk replays the FIRST 100 rows last, i.e. as LATE
# duplicates. Each replayed row is removed on one of two paths — if its
# ts is still at-or-above the watermark its key state is provably live
# (state evicts only below the watermark), so dropDuplicates filters it;
# if its ts has fallen below the watermark it is dropped as late input
# before dedup state is even consulted. Either way the append output is
# every source event exactly once — the plain batch projection, fully
# hash-checkable.
_DEDUP_STATE_ORACLE = """
SELECT event_id, user_id, event_type FROM events ORDER BY event_id
"""


@register(
    "stream_dedup_state",
    oracle=_DEDUP_STATE_ORACLE,
    doc="readStream dropDuplicates('event_id') under a watermark: replayed "
    "duplicate chunk is filtered by state (or dropped as late once the "
    "watermark passes it). Complete batch-equivalence oracle under "
    "lockstep arrival (r5): every event exactly once (NS).",
    tags=("streaming", "stateful"),
)
def stream_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = (
        _event_stream(spark, sf_dir, dup_first=100)
        .withWatermark("ts", _WATERMARK)
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_stream(spark, deduped).orderBy("event_id")


# ---------------------------------------------------------------------------
# stream_tumbling_file_rate — the production-shaped source for the windowed
# agg family: a file-backed readStream throttled to ONE file per trigger
# (the file-source analog of a rate limit), update-mode tumbling window agg
# at 1-day width — wide enough that windows hold many events and straddle
# file chunks (the 10-min width of stream_tumbling_agg holds ~1 event per
# window on the sparse test timeline, which would hide the progression).
# Each micro-batch emits the updated cumulative count for every window it
# touched, so the memory sink records the PROGRESSION: a window whose rows
# span k file-chunks appears k times with increasing counts. The builder
# folds the sink to (final count, n_updates) per window — n_updates > 1 for
# chunk-straddling windows is the pytest-pinned evidence that the agg state
# really advanced batch by batch rather than in one gulp.
#
# Batch-equivalence oracle (r5): with maxFilesPerTrigger=1 each chunk
# file IS one micro-batch (every chunk is a single coalesce(1) part
# file), and the chunk assignment is a deterministic function of the
# (ts, event_id) rank — chunk = floor((rn−1) / ceil(n/_CHUNKS)). A
# group's cumulative count changes exactly in the batches that carry
# ≥ 1 of its rows, so final n = count(*) and n_updates =
# count(DISTINCT chunk) per (window, event_type): the whole update-mode
# progression is a batch expression, upgrading the key from rows-only
# to hash-checked.
# ---------------------------------------------------------------------------

_TFR_ORACLE = f"""
WITH ordered AS (
  SELECT event_type, epoch_us(ts) AS us,
    row_number() OVER (ORDER BY ts, event_id) AS rn,
    count(*) OVER () AS n
  FROM events
),
chunked AS (
  SELECT event_type,
    CAST(floor(us / 86400e6) AS BIGINT) * 86400 AS win_start,
    CAST(floor((rn - 1) / ceil(n / {float(_CHUNKS)})) AS BIGINT) AS chunk
  FROM ordered
)
SELECT win_start, event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(count(DISTINCT chunk) AS BIGINT) AS n_updates
FROM chunked
GROUP BY win_start, event_type
ORDER BY win_start, event_type
"""


@register(
    "stream_tumbling_file_rate",
    oracle=_TFR_ORACLE,
    doc="Tumbling 1-day window agg over a file-rate source "
    "(maxFilesPerTrigger=1, update mode): final per-window counts match "
    "the batch form while n_updates records how many micro-batches "
    "touched each window — the production-shaped incremental ingest path "
    "beside the deterministic in-memory variants. Complete batch oracle "
    "(r5): the chunking is a deterministic function of (ts, event_id) "
    "rank, so n_updates = distinct chunks per (window, type) (NS).",
    tags=("streaming", "source"),
)
def stream_tumbling_file_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    writer = (
        _event_stream(spark, sf_dir)
        .groupBy(F.window("ts", "86400 seconds"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "n",
        )
        .writeStream.format("memory")
        .outputMode("update")
    )
    with _query(spark, writer) as q:
        q.processAllAvailable()
        sink = _sink(spark, q)
    # Update-mode sink: one row per (micro-batch, window) update carrying
    # the cumulative count — the final value is the max, the row count is
    # the number of batches that touched the window.
    return (
        sink.groupBy("win_start", "event_type")
        .agg(F.max("n").alias("n"), F.count(F.lit(1)).alias("n_updates"))
        .orderBy("win_start", "event_type")
    )


# ---------------------------------------------------------------------------
# stream_custom_state — custom stateful operator via applyInPandasWithState
# (SURVEY §2.1-I note): per-user running event count + running value sum
# maintained in explicit GroupState across micro-batches. This is the escape
# hatch for stateful logic window()/session_window() can't express.
# ---------------------------------------------------------------------------


# Exact-integer state (r5, the engine's standard micro-unit discipline
# applied to streaming state): the state carries the value sum as BIGINT
# MICRO-units — each row contributes floor(sat(value)·10⁶ + 0.5) with the
# same NaN→0 / ±1e6 saturation gate as the batch plans (synth.sat) — so
# the running total is order-free and batch-boundary-free, and the whole
# stateful computation reduces to a batch GROUP BY: the key is
# hash-checked against DuckDB instead of rows-only. (The previous float
# state accumulated in pandas-sum order, which no SQL oracle could
# reproduce bit-for-bit.) Worst case |micro| = 1e12 × 10⁴ rows/user
# stays far inside int64.
_CUSTOM_STATE_ORACLE = f"""
SELECT user_id,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(coalesce(
    sum(CAST(floor({synth.sat("value", 1e6)} * 1000000e0 + 0.5e0)
        AS BIGINT)), 0) AS DOUBLE) / 1000000e0 AS sum_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "stream_custom_state",
    oracle=_CUSTOM_STATE_ORACLE,
    doc="applyInPandasWithState: per-user running (count, micro-unit sum) "
    "updated across micro-batches with explicit GroupState; exact-BIGINT "
    "state makes the final fold order-free, so the key carries a full "
    "batch GROUP BY oracle (NS custom stateful).",
    tags=("streaming", "stateful", "udf"),
)
def stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import numpy as np

        (user_id,) = key
        n, total_micro = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            v = pdf["value"].to_numpy(dtype="float64")
            # mirror synth.sat + micro-unit floor EXACTLY (NaN→0, clamp
            # ±1e6, floor(v·10⁶ + 0.5)); NULLs arrive as NaN → 0, the
            # same zero contribution the SQL sum's NULL-skip yields
            v = np.where(np.isnan(v), 0.0, np.clip(v, -1e6, 1e6))
            # int64 BEFORE summing: a float64 batch-sum of 1e12-scale
            # micro values would round past 2^53
            total_micro += int(np.floor(v * 1e6 + 0.5).astype(np.int64).sum())
        state.update((n, total_micro))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "sum_value": [total_micro / 1e6],
            }
        )

    def transform(s):
        # the fold reads only these columns: the rest never reach Python
        stream = s.select("user_id", "value")
        return stream.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint, sum_value double",
            stateStructType="n bigint, total bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    writer = (
        # 2 files/trigger (r14): the exact-BIGINT state makes the final
        # per-user fold batching-free (the oracle's point), and the
        # builder keeps only each user's max-n_events row — so halving
        # the batch count halves the per-(batch, group) Python
        # round-trips and state (de)serialization while state still
        # provably crosses a batch boundary. Hash-proven identical at
        # 3 SFs.
        _event_stream(spark, sf_dir, max_files=2)
        .transform(transform)
        .writeStream.format("memory")
        .outputMode("update")
    )
    with _query(spark, writer) as q:
        q.processAllAvailable()
        # update-mode memory sink appends one row per (batch, user) —
        # keep the final state per user (max n_events is the last update).
        final = _sink(spark, q)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        final.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# stream_foreachbatch — the production sink pattern: each micro-batch handed
# to arbitrary batch logic (here: append to a parquet sink with the batch id
# stamped). The returned DataFrame is the sink read back — rows-only check,
# pytest asserts totals match the source.
# ---------------------------------------------------------------------------


# Batch-equivalence oracle (r5): each micro-batch is exactly one chunk
# file, and chunk membership is the deterministic (ts, event_id)-rank
# partition — but the ORDER the file source picks chunks in depends on
# file modification times, so raw _batch_id is not oracle-stable.
# Re-keying each batch by its CONTENT (rank of its min event_id) makes
# the (batch → size, first_event) table a pure batch expression while
# still proving per-batch lineage landed in the sink.
_FEB_ORACLE = f"""
WITH ordered AS (
  SELECT event_id,
    row_number() OVER (ORDER BY ts, event_id) AS rn,
    count(*) OVER () AS n
  FROM events
),
chunked AS (
  SELECT CAST(floor((rn - 1) / ceil(n / {float(_CHUNKS)})) AS BIGINT)
    AS chunk, event_id
  FROM ordered
),
agg AS (
  SELECT chunk, min(event_id) AS first_event,
    CAST(count(*) AS BIGINT) AS n
  FROM chunked GROUP BY chunk
)
SELECT CAST(row_number() OVER (ORDER BY first_event) AS BIGINT)
  AS batch_idx, first_event, n
FROM agg
ORDER BY batch_idx
"""


@register(
    "stream_foreachbatch",
    oracle=_FEB_ORACLE,
    doc="foreachBatch sink: micro-batches appended to parquet with batch-id "
    "lineage, read back as one table and hash-checked content-keyed "
    "(batch → size + first event id) against the deterministic chunk "
    "partition (NS; swap parquet for Delta/JDBC and nothing else "
    "changes).",
    tags=("streaming", "sink"),
)
def stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = pid_run_dir(sf_dir, "feb_sink")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    writer = _event_stream(spark, sf_dir).writeStream.foreachBatch(handle_batch)
    with _query(spark, writer) as q:
        q.processAllAvailable()
    from pyspark.sql.window import Window

    return (
        spark.read.parquet(sink)
        .groupBy("_batch_id")
        .agg(
            F.min("event_id").alias("first_event"),
            F.count(F.lit(1)).alias("n"),
        )
        # content-keyed batch index (see _FEB_ORACLE): the _CHUNKS-row
        # relation makes this global window summary-sized
        .withColumn(
            "batch_idx", F.row_number().over(Window.orderBy("first_event"))
        )
        .select(F.col("batch_idx").cast("long"), "first_event", "n")
        .orderBy("batch_idx")
    )


# ---------------------------------------------------------------------------
# stream_stream_join — watermarked stream-stream inner join: clicks joined
# to views of the same user within a 6-hour event-time range. Both sides
# are readStream sources over the SAME time-ordered chunk files, so the
# streams advance in lockstep; data arrives in event-time order, hence the
# watermark (which bounds join state: a click's state is evictable once the
# watermark passes click_ts + range) never drops a live match and the inner
# join is COMPLETE — which is why this key can carry a full batch-join
# oracle instead of the weaker rows-only check. Scale: join state is
# O(events inside the range window per key), the streaming analog of the
# bounded-shuffle discipline; without the range bound the state grows
# without limit and Spark rejects the plan in append mode.
# ---------------------------------------------------------------------------

_SSJ_RANGE_MIN = 360

# The oracle side of _click_view_pairs, for the three join keys: click a
# and view b pair up when the view is of the same user and lands within
# the range after the click.
_CLICK_VIEW_PAIR = f"""a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'view'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL {_SSJ_RANGE_MIN} MINUTE"""

_SSJ_PAIRS = f"""
SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id,
  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM events a JOIN events b ON {_CLICK_VIEW_PAIR}"""

_SSJ_ORACLE = f"""{_SSJ_PAIRS}
ORDER BY click_id, view_id
"""


def _sentinel_wm(delay_us: int, lag_us: int = 0) -> str:
    """The oracle CTE `wm(wm_ms)`: the final ms-floored watermark of a
    stream over a sentinel chunk set, whose last rows sit
    _SSOJ_SENT_OFFSET_US past the real max ts. `lag_us` is how far the
    slowest side's max ts trails that (the join keys' sentinel view sits
    1 s before its click, and the global watermark is the min over the
    two sides)."""
    return f"""wm AS (
  SELECT CAST(floor((max(epoch_us(ts)) + {_SSOJ_SENT_OFFSET_US} - {lag_us}
                     - {delay_us}) / 1000e0) AS BIGINT) AS wm_ms
  FROM events
)"""


def _click_view_pairs(
    spark: SparkSession,
    sf_dir: str,
    how: str = "inner",
    max_files: int = 1,
    sentinels: int = 0,
) -> DataFrame:
    """The one watermarked clicks x views range join of the three join
    keys: each side is its own _event_stream over the same chunk set,
    filtered to its event type under the 10-minute watermark; a view
    pairs with a click of the same user within _SSJ_RANGE_MIN minutes
    after it. Columns: click_id, click_user, click_ts, view_id, user_id
    (the view's), view_ts and gap_us."""

    def side(kind: str) -> DataFrame:
        return (
            _event_stream(spark, sf_dir, max_files, sentinels=sentinels)
            .filter(F.col("event_type") == kind)
            .withWatermark("ts", _WATERMARK)
        )

    clicks = side("click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    views = side("view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    return clicks.join(
        views,
        F.expr(
            f"click_user = user_id AND view_ts >= click_ts "
            f"AND view_ts <= click_ts + interval {_SSJ_RANGE_MIN} minutes"
        ),
        how,
    ).withColumn("gap_us", F.unix_micros("view_ts") - F.unix_micros("click_ts"))


@register(
    "stream_stream_join",
    oracle=_SSJ_ORACLE,
    doc="Watermarked stream-stream inner join (clicks x views per user "
    "within a 6 h event-time range) over lockstep file micro-batches; "
    "complete under in-order arrival, so fully oracle-checked (NS).",
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _click_view_pairs(spark, sf_dir).select(
        "click_id", "view_id", "user_id", "gap_us"
    )
    return _run_stream(spark, pairs).orderBy("click_id", "view_id")


# ---------------------------------------------------------------------------
# stream_stream_outer_join — the LEFT OUTER variant (r8, VERDICT r7 item
# 5): same clicks×views range join, but unmatched clicks are emitted with
# NULL view columns — and only WHEN THE WATERMARK CLOSES THEIR WINDOW
# (state eviction), the semantics no inner-join key exercises. Under
# lockstep in-order arrival the batch-equivalence oracle is exact:
# matched rows are the complete inner join (the r1 argument), and the
# null-extended set is every never-matched click whose join window the
# FINAL watermark has passed — Spark evicts left state at
# click_ts_ms <= wm_ms - range_ms - 1 (the state-watermark allowance:
# eviction strictly BELOW the ms-floored boundary; calibrated against the
# engine, see tests/test_streaming.py's crafted fixture) — clicks still
# inside their window when the stream ends stay in state and are NOT
# emitted. The oracle reproduces exactly that predicate in integer ms
# arithmetic.
# ---------------------------------------------------------------------------

# The GLOBAL watermark is the min over the two sides' watermark nodes
# (each computed post-filter on its own rows): the sentinel view sits 1 s
# before the sentinel click, so the views side lags and the final global
# watermark is max_ts + offset - 1 s - delay (observed on the crafted
# fixture's per-batch progress, encoded exactly here).
_JOIN_WM = _sentinel_wm(_WATERMARK_US, lag_us=1_000_000)

_SSOJ_ORACLE = f"""
WITH {_JOIN_WM}{_SSJ_PAIRS}
UNION ALL
SELECT a.event_id AS click_id, CAST(NULL AS BIGINT) AS view_id, a.user_id,
  CAST(NULL AS BIGINT) AS gap_us
FROM events a CROSS JOIN wm
WHERE a.event_type = 'click'
  AND NOT EXISTS (SELECT 1 FROM events b WHERE {_CLICK_VIEW_PAIR})
  AND CAST(floor(epoch_us(a.ts) / 1000e0) AS BIGINT)
      <= wm.wm_ms - {_SSJ_RANGE_MIN} * 60000 - 1
ORDER BY click_id, view_id
"""


@register(
    "stream_stream_outer_join",
    oracle=_SSOJ_ORACLE,
    doc="Watermarked stream-stream LEFT OUTER join (clicks x views per "
    "user within a 6 h event-time range) over lockstep file micro-batches: "
    "matches emit on arrival (complete inner set), never-matched clicks "
    "emit with NULL view columns only when the watermark evicts their "
    "state (click_ts_ms <= final_wm_ms - range_ms - 1, the engine's "
    "state-watermark allowance, reproduced exactly in the oracle); clicks "
    "whose window is still open at end-of-stream are withheld — fully "
    "hash-checked watermark-driven null emission (NS).",
    tags=("streaming", "join"),
)
def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sentinels=3 (r14): all sentinel chunks carry the SAME far-future
    # timestamps, so a third changes no watermark and no oracle — it
    # exists so the chained-join twin (same chunk set) can read 2
    # files/trigger and still land its final eviction in a data batch
    # ([s90,s91] advances the wm to final, [s92] evicts). For THIS key
    # (1 file/trigger) it is one extra no-op data batch.
    pairs = _click_view_pairs(spark, sf_dir, "leftOuter", sentinels=3).select(
        "click_id", "view_id", F.col("click_user").alias("user_id"), "gap_us"
    )
    return _run_stream(spark, pairs).orderBy("click_id", "view_id")


# ---------------------------------------------------------------------------
# stream_chained_join_agg — MULTIPLE STATEFUL OPERATORS in one streaming
# query (r8): the stream-stream inner range join feeding a tumbling
# windowed aggregation, the Spark-3.4+ chained-stateful capability no
# other key exercises (join state + window state in the same append-mode
# query, with watermark PROPAGATION between them). Under lockstep
# in-order arrival the oracle is exact: the join emits the complete inner
# set (the stream_stream_join argument), and the aggregation's input
# watermark is the join's OUTPUT watermark — the global watermark minus
# the join's state hold (a matched click can surface as late as
# wm - range, so Spark delays the downstream watermark by exactly the
# range) — hence the emitted windows are those with
# end_ms <= final_wm_ms - range_ms. Same sentinel-driven source as
# stream_stream_outer_join (evictions/finalizations ride DATA batches;
# final global wm = max_ts + offset - 1 s - delay). Aggregates are exact
# BIGINT (count + sum of integer gap_us), so the key is fully
# hash-checked.
# ---------------------------------------------------------------------------

_SCJA_ORACLE = f"""
WITH {_JOIN_WM},
j AS (
  SELECT a.ts AS click_ts, epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
  FROM events a JOIN events b ON {_CLICK_VIEW_PAIR}
),
agg AS (
  SELECT CAST(floor(epoch(click_ts) / 600) AS BIGINT) * 600 AS win_start,
    CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
  FROM j GROUP BY 1
)
SELECT win_start, n_pairs, sum_gap_us
FROM agg CROSS JOIN wm
WHERE (win_start + 600) * 1000 <= wm.wm_ms - {_SSJ_RANGE_MIN} * 60000
ORDER BY win_start
"""


@register(
    "stream_chained_join_agg",
    oracle=_SCJA_ORACLE,
    doc="Chained stateful operators in ONE streaming query: watermarked "
    "stream-stream inner range join (clicks x views) feeding a tumbling "
    "10-min windowed aggregation of the matches (count + exact BIGINT "
    "gap sum), append mode. Pins Spark's watermark PROPAGATION: the "
    "aggregation finalizes windows against the join's output watermark "
    "= global wm - join range, reproduced exactly in the oracle "
    "(windows with end_ms <= final_wm_ms - range_ms); sentinel-driven "
    "source so finalization rides data batches (NS).",
    tags=("streaming", "join", "stateful"),
)
def stream_chained_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2 files/trigger (r14): batches [c0,c1],[c2,c3],[s90,s91],[s92] —
    # the identical-ts sentinel chunks mean [s90,s91] advances the global
    # watermark to its final value and [s92] is the data batch that runs
    # the last eviction/finalization, exactly the r8 sentinel discipline
    # at half the batch count. Emitted set = windows with end <= final
    # wm - range, a pure function of the FINAL watermark —
    # batching-invariant (hash-proven at 3 SFs).
    pairs = _click_view_pairs(spark, sf_dir, max_files=2, sentinels=3)
    agg = (
        pairs.groupBy(F.window("click_ts", "600 seconds"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("gap_us").cast("bigint").alias("sum_gap_us"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "n_pairs",
            "sum_gap_us",
        )
    )
    return _run_stream(spark, agg).orderBy("win_start")


# ---------------------------------------------------------------------------
# stream_static_join — the standard enrichment topology: a stream inner-
# joined to a STATIC dimension (events ⋈ customer, segment-filtered).
# Stream-static inner joins are STATELESS (each micro-batch joins against
# the static snapshot independently — no watermark, no join state), so
# append mode emits exactly the batch join result and the key is fully
# oracle-checkable. Columns pass through untouched → bit-exact, no
# rounding. Scale notes: the dimension is broadcast once per batch
# (executor-cached); at 100 TB of stream the per-batch cost stays bounded
# by batch size, and a slowly-changing dimension swaps in foreachBatch
# re-broadcast — same plan shape. The filter prunes the dimension BEFORE
# the broadcast (Catalyst pushes it below the join).
# ---------------------------------------------------------------------------

_SSTATIC_ORACLE = """
SELECT e.event_id, e.user_id, e.event_type, c.c_name, e.value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
ORDER BY e.event_id
"""


@register(
    "stream_static_join",
    oracle=_SSTATIC_ORACLE,
    doc="readStream events inner-joined to the static customer dimension "
    "(broadcast, segment-pruned before the exchange); stateless append "
    "mode makes it equal to the batch join, fully oracle-checked (NS).",
    tags=("streaming",),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name")
    )

    joined = (
        _event_stream(spark, sf_dir)
        .alias("e")
        .join(F.broadcast(dim.alias("c")), F.expr("e.user_id = c.c_custkey"))
        .select("e.event_id", "e.user_id", "e.event_type", "c.c_name", "e.value")
    )
    return _run_stream(spark, joined).orderBy("event_id")


# ---------------------------------------------------------------------------
# stream_sink_parquet — the production SINK form: writeStream to a parquet
# directory with a checkpointLocation (exactly-once file sink semantics —
# restart-safe via the checkpoint's write-ahead commit log), then the sink
# directory is read back as a normal batch relation. Complements
# stream_foreachbatch (imperative sink) and the memory-sink keys
# (test-scale): this is the path a pipeline actually lands data with.
# ---------------------------------------------------------------------------


@register(
    "stream_sink_parquet",
    # Same plan as stream_watermark_late behind a parquet sink instead of
    # the memory sink, so the SAME lockstep finalized-window oracle
    # applies (r5): the sink contents are exactly the windows the final
    # watermark passed.
    oracle=_WM_LATE_ORACLE,
    doc="writeStream → parquet file sink with checkpointLocation "
    "(exactly-once commit-log semantics), append mode over a watermarked "
    "tumbling agg; sink read back as batch and hash-checked against the "
    "finalized-window batch oracle. The production landing path beside "
    "the memory/foreachBatch sinks (NS).",
    tags=("streaming", "sink"),
)
def stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = pid_run_dir(sf_dir, "psink_out")
    sink, ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")

    writer = (
        _finalized_windows(_event_stream(spark, sf_dir))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )
    with _query(spark, writer) as q:
        q.processAllAvailable()
    return spark.read.parquet(sink).orderBy("win_start", "event_type")


# ---------------------------------------------------------------------------
# stream_rate_source — the built-in `rate` source (timestamp, value rows
# generated at rowsPerSecond): the standing load-generator source type for
# streaming smoke tests and backpressure work. Bounded here by stopping
# after the first non-empty micro-batches and aggregating value parity —
# deterministic row CONTENT (value is a dense sequence) even though run
# length is wall-clock-bounded, so the check pins structure, not counts.
# ---------------------------------------------------------------------------


@register(
    "stream_rate_source",
    oracle=None,  # wall-clock-driven source → rows-only; pytest pins shape
    doc="Built-in rate source (rowsPerSecond=500) drained for a bounded "
    "interval into a memory sink: value column is the dense 0..N-1 "
    "sequence, aggregated to (n_rows, n_even, max_value) — the load-"
    "generator source type, structure-checked (NS).",
    tags=("streaming", "source"),
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    del sf_dir  # generator source; scale-independent by design
    import time

    writer = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .select("value")
        .writeStream.format("memory")
        .outputMode("append")
    )
    with _query(spark, writer) as q:
        deadline = time.time() + 10.0
        while time.time() < deadline:
            if _sink(spark, q).count() >= 500:
                break
            time.sleep(0.25)
        sink = _sink(spark, q)
    # planned after the stop: the aggregate reads the final sink contents
    return sink.select(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("value") % 2 == 0).cast("int")).alias("n_even"),
        F.max("value").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# stream_unbounded_socket — the Kafka-shaped UNBOUNDED source contract
# (SURVEY "Known residual costs"; VERDICT r5 item 8): the container has no
# Kafka broker, so the contract is approximated with the built-in socket
# source — a genuinely unbounded, connection-ordered byte stream with no
# file boundaries and no end-of-input marker, which is exactly the part of
# Kafka's contract the file-chunk streams cannot exercise (a file source
# always knows its input set; a socket/Kafka source must finalize purely
# from the WATERMARK). A driver-side thread plays the broker: it serves the
# events table as "epoch_micros,event_type" lines in ts order over one TCP
# connection (Kafka per-partition ordering), then holds the connection open
# (unbounded: no EOF). The query runs the SAME watermarked tumbling
# topology as stream_watermark_late, so under lockstep in-order arrival
# the finalized append output is the same batch expression — the key
# carries the SAME full hash oracle, and the pytest lockstep test asserts
# the socket path and the file-chunk path emit identical windows.
#
# Driver-side collect is deliberate and bounded: the fake broker IS the
# test harness (a real deployment replaces it with Kafka partitions); the
# Spark side — socket source, line parse, watermark, windowed state — is
# the production path. Excluded from bench (wall is dominated by feeding
# the socket).
# ---------------------------------------------------------------------------


@register(
    "stream_unbounded_socket",
    oracle=_WM_LATE_ORACLE,
    doc="Kafka-shaped unbounded source: events served as ordered "
    "'micros,event_type' lines over a live TCP socket (no EOF — the "
    "source cannot see the end of input and must finalize from the "
    "watermark alone), driving the same withWatermark('ts','10 minutes') "
    "tumbling append topology as stream_watermark_late; emitted set = "
    "windows with end <= ms-floored final watermark, full hash oracle "
    "under lockstep in-order arrival (NS).",
    tags=("streaming", "source", "stateful"),
)
def stream_unbounded_socket(spark: SparkSession, sf_dir: str) -> DataFrame:
    import socket
    import threading
    import time

    ev = load_table(spark, sf_dir, "events")
    rows = (
        ev.select(F.unix_micros("ts").alias("us"), "event_type")
        .orderBy("us", "event_type")
        .collect()
    )
    payload = "".join(f"{r['us']},{r['event_type']}\n" for r in rows).encode()
    n_events = len(rows)

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    sent = threading.Event()
    done = threading.Event()
    conns = []

    def serve() -> None:
        # serve every connection the source opens (it connects once per
        # query start); send all lines, then HOLD the socket open — an
        # unbounded stream has no EOF. Accept in a short-timeout loop
        # gated on `done`, and close connections only AFTER the main
        # thread sets `done` (ADVICE r6: a fixed accept-timeout closed
        # the live connection ~30 s after the last accept, making the
        # no-EOF contract timing-dependent on a loaded box; now the
        # connection provably outlives the query).
        server.settimeout(0.5)
        while not done.is_set():
            try:
                conn, _ = server.accept()
            except socket.timeout:
                continue
            except OSError:
                break
            conns.append(conn)
            try:
                conn.sendall(payload)
            except OSError:
                continue
            sent.set()
        done.wait()
        for c in conns:
            try:
                c.close()
            except OSError:
                pass

    thread = threading.Thread(target=serve, daemon=True)
    thread.start()

    lines = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", port)
        .load()
    )
    # split limit 2: the timestamp field is comma-free by construction, so
    # an event_type CONTAINING commas survives intact (newlines would
    # still need a real record framing — that's Kafka's record boundary,
    # which the line protocol approximates).
    parsed = lines.select(F.split("value", ",", 2).alias("p")).select(
        F.timestamp_micros(F.col("p")[0].cast("bigint")).alias("ts"),
        F.col("p")[1].alias("event_type"),
    )
    writer = (
        _finalized_windows(parsed)
        .writeStream.format("memory")
        .outputMode("append")
    )
    try:
        with _query(spark, writer) as query:
            sent.wait(timeout=60.0)
            # The socket source ingests on its own receiver thread, so
            # processAllAvailable() only covers bytes already buffered:
            # poll until the cumulative source input reaches the served
            # row count (then once more so the no-data batch flushes
            # watermark state).
            deadline = time.time() + 120.0
            # recentProgress is a CAPPED ring buffer (~100 entries,
            # ADVICE r6): re-summing it undercounts forever once
            # input-bearing entries are evicted by later no-data
            # batches. Accumulate per-batch input counts across polls
            # in Python instead — a batch's count is recorded the first
            # poll after it appears, so eviction can only drop entries
            # already counted.
            batch_rows: dict[int, int] = {}
            while time.time() < deadline:
                query.processAllAvailable()
                for p in query.recentProgress:
                    batch_rows[int(p["batchId"])] = int(p["numInputRows"])
                if sum(batch_rows.values()) >= n_events:
                    break
                time.sleep(0.2)
            query.processAllAvailable()
            out = _sink(spark, query)
    finally:
        done.set()
        try:
            server.close()
        except OSError:
            pass
    return out.orderBy("win_start", "event_type")


# ---------------------------------------------------------------------------
# stream_event_pattern_cep — the STREAMING half of MATCH_RECOGNIZE-style CEP
# (batch half: operators/analytics.py win_event_pattern_cep): per-user
# pattern state carried ACROSS micro-batch boundaries with explicit
# GroupState — the part the batch form cannot exercise. State per user is
# the last two events (type + ns timestamp), the trailing consecutive-error
# run length, and the monotone counters; a strict view→click→purchase
# triple or an error burst that STRADDLES a chunk boundary is detected
# exactly because the buffer survives the boundary. Under lockstep
# in-order arrival (time-ordered chunk files, maxFilesPerTrigger=1 — the
# stream_watermark_late contract) the final per-user state equals the
# batch expression, so the key carries the SAME independent
# rank-difference-islands DuckDB oracle as the batch key: a streaming
# stateful implementation and a relational islands derivation agreeing on
# every value. Emitted counters are monotone in events-seen, so the final
# state per user is the max-n_seen update row (the stream_custom_state
# recovery pattern).
# ---------------------------------------------------------------------------


from ..operators.analytics import _event_pattern_sql as _cep_batch_sql


@register(
    "stream_event_pattern_cep",
    # the oracle IS the batch CEP key's independent islands derivation —
    # one text, two totally different implementations (stateful pandas
    # processor vs relational windows) agreeing on every value
    oracle=_cep_batch_sql("duckdb").format(events="events"),
    doc="Streaming CEP via applyInPandasWithState: per-user last-2-event "
    "buffer + trailing-error-run state detect strict view->click->"
    "purchase (30 min bound) and >=2-error bursts ACROSS micro-batch "
    "boundaries; under lockstep arrival the final state equals the batch "
    "semantics, hash-checked against win_event_pattern_cep's independent "
    "islands oracle (NS streaming stateful CEP).",
    tags=("streaming", "stateful", "cep"),
)
def stream_event_pattern_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    within_ns = 30 * 60 * 1_000_000_000

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            (n_seen, p2t, p2ts, p1t, p1ts, run, n_conv, n_bursts,
             longest) = state.get
        else:
            n_seen, p2t, p2ts, p1t, p1ts = 0, None, 0, None, 0
            run, n_conv, n_bursts, longest = 0, 0, 0, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            ts_ns = pdf["ts"].to_numpy(dtype="datetime64[ns]").astype("int64")
            for et, ens in zip(pdf["event_type"].tolist(), ts_ns.tolist()):
                n_seen += 1
                if (
                    p2t == "view" and p1t == "click" and et == "purchase"
                    and ens <= p2ts + within_ns
                ):
                    n_conv += 1
                if et == "error":
                    run += 1
                else:
                    if run >= 2:
                        n_bursts += 1
                        longest = max(longest, run)
                    run = 0
                p2t, p2ts, p1t, p1ts = p1t, p1ts, et, ens
        state.update(
            (n_seen, p2t, p2ts, p1t, p1ts, run, n_conv, n_bursts, longest)
        )
        # provisional close of the trailing run: after the LAST chunk this
        # equals the batch partition-end semantics; counters are monotone
        # in n_seen so the max-n_seen row is the final state.
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_seen": [n_seen],
                "n_strict_conversions": [n_conv],
                "n_error_bursts": [n_bursts + (1 if run >= 2 else 0)],
                "longest_burst": [max(longest, run if run >= 2 else 0)],
            }
        )

    def transform(s):
        # the fold reads only these columns: the rest never reach Python
        stream = s.select("user_id", "event_id", "ts", "event_type")
        return stream.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=(
                "user_id bigint, n_seen bigint, n_strict_conversions "
                "bigint, n_error_bursts bigint, longest_burst bigint"
            ),
            stateStructType=(
                "n_seen bigint, p2t string, p2ts bigint, p1t string, "
                "p1ts bigint, run bigint, n_conv bigint, n_bursts bigint, "
                "longest bigint"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    writer = (
        _event_stream(spark, sf_dir)
        .transform(transform)
        .writeStream.format("memory")
        .outputMode("update")
    )
    with _query(spark, writer) as q:
        q.processAllAvailable()
        sink = _sink(spark, q)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
    return (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(
            (F.col("n_strict_conversions") + F.col("n_error_bursts")) > 0
        )
        .select(
            "user_id", "n_strict_conversions", "n_error_bursts",
            "longest_burst",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# stream_session_window_native — the NATIVE streaming session_window()
# operator under a watermark (r9, VERDICT r8 item 2): the batch key
# stream_session_window runs session_window() on a batch DataFrame, which
# never exercises the streaming-distinctive machinery — session state
# MERGING across micro-batch boundaries and append-mode finalization when
# the watermark passes session end + gap. This key drives exactly that:
# the ts-ordered chunked file source (one file per trigger), withWatermark
# + session_window groupBy, append mode.
#
# Batch-equivalence oracle under lockstep in-order arrival: per-user event
# order is preserved by the global (ts, event_id) chunking, so the final
# merged session set equals the batch gaps-and-islands sessions (ONE
# definition, shared with win_sessionize_gaps / stream_session_window via
# operators/analytics._sessionize_sql), and append mode emits exactly the
# sessions finalized by the FINAL watermark. Eviction boundary calibrated
# against the engine (r9, three crafted scenarios): a session emits iff
# session_end_us <= wm_ms * 1000 — the comparison is inclusive and in
# MICROSECONDS against the ms-floored watermark (end 400.000000 s vs wm
# 400.000 s emitted; end 301.0005 s vs wm 301.000 s withheld, i.e. the
# sub-ms part of the session end is NOT floored away).
#
# Watermark delay is 6 h (not the file-wide 10 min): the final watermark
# lands at max_real_ts + 30 min (sentinels) - 6 h = 5.5 h before the end
# of the timeline, so the withheld-open-session branch keeps real mass at
# every driver sf (sessions whose last event falls in the trailing ~5.5 h
# stay in state; with a 10-min delay the 30-min sentinel offset would
# finalize every real session and the withholding path would go
# untested). The two far-future sentinel chunks (user_id < 0, filtered
# after the sink) force the final eviction into ordinary DATA batches —
# processAllAvailable does not reliably wait for the trailing no-data
# batch (r8 sentinel discipline).
# ---------------------------------------------------------------------------

_SESS_NATIVE_WM = "6 hours"
_SESS_NATIVE_WM_US = 21_600_000_000

_SESS_NATIVE_ORACLE = f"""
WITH sess AS ({_session_batch_sql("duckdb").format(events="events")}),
{_sentinel_wm(_SESS_NATIVE_WM_US)}
SELECT user_id, session_start_us, session_end_us, n_events
FROM sess CROSS JOIN wm
WHERE session_end_us <= wm.wm_ms * 1000
ORDER BY user_id, session_start_us
"""


def _session_count(s: DataFrame) -> DataFrame:
    """The one streaming session count: session_window() per user with
    the shared gap, as (user_id, session_start_us, session_end_us,
    n_events). `s` already carries the 6 h watermark."""
    return (
        s.groupBy(
            F.session_window("ts", f"{_SESS_GAP_US // 1_000_000} seconds"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("session_window.end")).alias(
                "session_end_us"
            ),
            "n_events",
        )
    )


def _session_native_transform(s: DataFrame) -> DataFrame:
    """The streaming session topology (shared with the crafted-fixture
    pytest so the pinned merge/withhold/boundary behavior is the same
    code path the registered key runs)."""
    return _session_count(s.withWatermark("ts", _SESS_NATIVE_WM))


@register(
    "stream_session_window_native",
    oracle=_SESS_NATIVE_ORACLE,
    doc="NATIVE streaming session_window() under withWatermark('ts','6 "
    "hours'), append mode over the ts-ordered chunked source: session "
    "state merges across micro-batch boundaries and sessions finalize "
    "when the watermark passes session end. Complete batch-equivalence "
    "oracle under lockstep in-order arrival: emitted set = the shared "
    "gaps-and-islands sessions with session_end_us <= ms-floored final "
    "watermark * 1000 (boundary calibrated against the engine: inclusive, "
    "microsecond-exact ends). Far-future sentinel chunks force final "
    "eviction into data batches (NS).",
    tags=("streaming", "stateful"),
)
def stream_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sentinels=3 + 2 files/trigger (r14): sentinel chunks share one
    # timestamp, so [s90,s91] advances the watermark to its final value
    # and [s92] is the data batch that evicts the last sessions — the
    # same sentinel discipline at 4 data batches instead of 6. Emitted
    # set = sessions with end <= final wm, batching-invariant
    # (hash-proven at 3 SFs + the crafted merge/boundary fixture).
    stream = _event_stream(spark, sf_dir, max_files=2, sentinels=3)
    out = _run_stream(spark, _session_native_transform(stream))
    return out.filter(F.col("user_id") >= 0).orderBy(
        "user_id", "session_start_us"
    )


# ---------------------------------------------------------------------------
# stream_dedup_within_watermark — dropDuplicatesWithinWatermark (r9): the
# WATERMARK-BOUNDED streaming dedup API (Spark 3.5+), distinct from plain
# dropDuplicates: state for a key is guaranteed only until the watermark
# passes its event time + delay, so the state store stays bounded by the
# delay window instead of growing with every key ever seen — the dedup a
# production pipeline actually runs against at-least-once sources, where
# duplicates arrive CLOSE to the original (retries, replays) rather than
# arbitrarily late.
#
# Batch-equivalence oracle under lockstep arrival (the stream_dedup_state
# argument adapted to the bounded-state contract): the four main chunks
# carry every event exactly once in ts order; the appended dup chunk
# replays the FIRST 100 rows LAST. Each replayed row is removed on one of
# two paths — if its event time is still at-or-above the watermark its
# key's dedup state is provably live (within-watermark state evicts only
# below wm − delay), so it is filtered as a duplicate; if its event time
# has fallen below the watermark it is dropped as late input before the
# dedup state is consulted. Either way: every source event exactly once.
# ---------------------------------------------------------------------------


@register(
    "stream_dedup_within_watermark",
    oracle=_DEDUP_STATE_ORACLE,
    doc="dropDuplicatesWithinWatermark under withWatermark('ts','10 "
    "minutes'): watermark-BOUNDED dedup state (evicted below wm − delay, "
    "so the store is sized by the delay window, not by distinct-keys-"
    "ever) — the at-least-once-source dedup API beside the unbounded "
    "dropDuplicates key. Complete batch-equivalence oracle under "
    "lockstep arrival: every event exactly once (I: streaming).",
    tags=("streaming", "stateful"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = (
        _event_stream(spark, sf_dir, dup_first=100)
        .withWatermark("ts", _WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_stream(spark, deduped).orderBy("event_id")


def _two_lives(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    transform,
    *,
    max_files: int = 1,
    dup_first: int = 0,
    sentinels: int = 0,
) -> DataFrame:
    """The one two-life restart: `transform` of the (dup_first,
    sentinels) chunk set runs into a parquet sink as two query lives
    against one checkpointLocation, in a fresh pid_run_dir `name`. Chunk
    files are revealed into a stage directory the stream reads: life 1
    sees the first half of the real timeline (the main chunks, not the
    replayed-duplicates or sentinel ones) and stops; life 2 restarts from
    the checkpoint over every chunk. Returns the sink read back."""
    src = _chunk_dir(spark, sf_dir, dup_first, sentinels)
    base = pid_run_dir(sf_dir, name)
    stage = os.path.join(base, "stage")
    sink, ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")
    chunks = sorted(
        d for d in os.listdir(src) if os.path.isdir(os.path.join(src, d))
    )
    main = [d for d in chunks if "_dups" not in d and "_sent" not in d]
    for life in (main[: max(1, len(main) // 2)], chunks):
        for d in life:
            if not os.path.exists(os.path.join(stage, d)):
                shutil.copytree(os.path.join(src, d), os.path.join(stage, d))
        writer = (
            transform(_event_stream(spark, sf_dir, max_files, path=stage))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )
        with _query(spark, writer) as q:
            q.processAllAvailable()
    return spark.read.parquet(sink)


# ---------------------------------------------------------------------------
# stream_checkpoint_restart — checkpoint RECOVERY, the fault-tolerance
# contract (r9): a watermarked stateful query is run in TWO LIVES against
# the same checkpointLocation and parquet sink — life 1 sees only the
# first two ts-ordered chunks and is STOPPED (open windows and the
# watermark live only in the state store); life 2 finds the remaining
# chunks, restarts from the checkpoint, and must resume the watermark and
# window state exactly where life 1 left them. The final sink must equal
# the single-life run bit-for-bit — windows whose rows SPAN the restart
# boundary (pytest-pinned to exist) can only be correct if the recovered
# state carried life 1's partial counts.
#
# Same topology as stream_sink_parquet, so the SAME lockstep
# finalized-window oracle applies: chunk order preserves global ts order
# across the two lives, hence append output = tumbling counts for windows
# with end <= ms-floored final watermark. This is the restart a real
# deployment performs on every deploy/failover; the file-source offsets,
# watermark, and window state all recover from the commit log.
# ---------------------------------------------------------------------------


@register(
    "stream_checkpoint_restart",
    oracle=_WM_LATE_ORACLE,
    doc="Checkpoint recovery: the watermarked tumbling agg runs as TWO "
    "query lives against one checkpointLocation + parquet sink — life 1 "
    "consumes the first half of the ts-ordered chunks and stops; life 2 "
    "restarts from the checkpoint, resumes watermark/window state, and "
    "drains the rest. Final sink hash-equals the single-life finalized-"
    "window oracle; boundary-straddling windows pin real state recovery "
    "(I: streaming fault tolerance).",
    tags=("streaming", "stateful", "sink"),
)
def stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _two_lives(spark, sf_dir, "ckres_run", _finalized_windows)
    return out.orderBy("win_start", "event_type")


# ---------------------------------------------------------------------------
# stream_observe_metrics — observe() on a STREAMING query (r10, VERDICT
# r9 item 3, streaming twin): the production per-micro-batch metrics
# surface — a named observe() node rides the source side of a watermarked
# tumbling aggregation, and each micro-batch's metrics arrive through the
# progress events (`observedMetrics` in StreamingQueryProgress). The key
# runs the standard lockstep chunked source (dup_first=0: every event
# arrives exactly once across batches), sums the per-batch exact-integer
# metrics, and emits the totals as the output relation.
#
# Full-hash oracle by batch-equivalence: per-batch counts/sums of rows
# that arrive exactly once add up to the table-level metrics, so the
# totals equal the same relational aggregates DuckDB computes over
# `events` — the observe() node sees every source row BEFORE any
# watermark/state filtering, so no late-row caveat applies. Metrics are
# BIGINT-only (count, null count, saturating micro-unit sum, id extent;
# min/max merge across batches as min-of-mins / max-of-maxs).
#
# The progress buffer holds the last 100 updates and this topology
# produces exactly one data batch per chunk file (maxFilesPerTrigger=1,
# _CHUNKS=4) plus at most a trailing no-data batch — far inside the cap,
# so recentProgress is a complete record (read before stop()).
# ---------------------------------------------------------------------------

_STREAM_OBS_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_props,
  CAST(coalesce(sum(CAST(floor({synth.sat("coalesce(value, 0e0)", 1e9)}
    * 1000000e0 + 0.5e0) AS BIGINT)), 0) AS BIGINT) AS sum_value_u,
  min(event_id) AS min_event_id,
  max(event_id) AS max_event_id
FROM events
"""


@register(
    "stream_observe_metrics",
    oracle=_STREAM_OBS_ORACLE,
    doc="observe() on a streaming query: a named CollectMetrics node on "
    "the source side of the watermarked tumbling agg, per-micro-batch "
    "metrics read from the progress events' observedMetrics and summed "
    "across batches (exact BIGINT terms; min/max merged). Lockstep "
    "batch-equivalence oracle: exactly-once arrival makes the per-batch "
    "sums equal the relational table metrics (I: the streaming "
    "observability surface; twin of dq_observe_metrics).",
    tags=("streaming", "quality"),
)
def stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2 files/trigger (r14): per-batch metric terms are summed /
    # min-max-merged across batches, so the totals are invariant to
    # the chunk→batch grouping; two data batches still exercise the
    # cross-batch merge while halving trigger+commit fixed cost.
    stream = _event_stream(spark, sf_dir, max_files=2)
    observed = stream.observe(
        "w32bd_obsm_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("props").isNull().cast("long")).alias("n_null_props"),
        F.coalesce(
            F.sum(
                F.expr(
                    "CAST(floor("
                    + synth.sat("coalesce(value, 0e0)", 1e9)
                    + " * 1000000e0 + 0.5e0) AS BIGINT)"
                )
            ),
            F.lit(0).cast("long"),
        ).alias("sum_value_u"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )
    writer = (
        _finalized_windows(observed)
        .writeStream.format("memory")
        .outputMode("append")
    )
    with _query(spark, writer) as q:
        q.processAllAvailable()
        progresses = list(q.recentProgress)
    per_batch = []
    for p in progresses:
        om = (p.get("observedMetrics") or {}).get("w32bd_obsm_metrics")
        if om is not None:
            per_batch.append(om)
    n_rows = sum(int(r["n_rows"]) for r in per_batch)
    # sums over empty batches are NULL — skip them; all-empty => NULL,
    # matching the oracle's aggregates over an empty table
    nn = [r["n_null_props"] for r in per_batch if r["n_null_props"] is not None]
    sv = [r["sum_value_u"] for r in per_batch if r["sum_value_u"] is not None]
    mins = [r["min_event_id"] for r in per_batch if r["min_event_id"] is not None]
    maxs = [r["max_event_id"] for r in per_batch if r["max_event_id"] is not None]
    row = [
        (
            n_rows,
            sum(int(x) for x in nn) if nn else None,
            sum(int(x) for x in sv) if sv else 0,
            min(int(x) for x in mins) if mins else None,
            max(int(x) for x in maxs) if maxs else None,
        )
    ]
    # r14: literal JVM row (see common.local_rows_df) — createDataFrame's
    # Python-RDD scan paid a worker round trip per action.
    from ..common import local_rows_df

    return local_rows_df(
        spark,
        "n_rows bigint, n_null_props bigint, sum_value_u bigint, "
        "min_event_id bigint, max_event_id bigint",
        row,
    )


# ---------------------------------------------------------------------------
# stream_pipeline_e2e — the composed streaming story (r10, VERDICT r9
# item 6): every stateful contract proven alone in this module, chained
# in ONE append-mode topology and run as TWO query lives across one
# checkpoint — source → withWatermark(6 h) → dropDuplicatesWithinWatermark
# → observe() → session_window aggregation → parquet sink. Life 1 drains
# the first half of the ts-ordered chunks and stops; life 2 restarts from
# the checkpoint and drains the rest PLUS the replayed-duplicates chunk
# and the far-future sentinels — so file-source offsets, the watermark,
# dedup state, AND merging session state all provably recover together.
#
# Full-hash oracle = the native session key's batch equivalence,
# unchanged: duplicates are removed on one of the two proven paths
# (below-watermark → late-dropped before dedup; at-or-above → dedup state
# live within the 6 h delay — in life 2 that state is the RECOVERED one),
# so the session input is every event exactly once, and append mode emits
# sessions with end <= ms-floored final watermark (the calibrated
# inclusive boundary). Watermark propagation: dedup is filter-shaped —
# unlike a stream-stream join it does NOT delay the downstream watermark,
# so the finalization boundary equals the single-operator key's.
#
# The observe() node rides between dedup and the session agg: its
# per-batch counts sum (across BOTH lives) to exactly one per source
# event plus one per sentinel chunk — pinned in pytest, a cross-restart
# exactly-once meter the sink hash alone wouldn't give.
# ---------------------------------------------------------------------------


@register(
    "stream_pipeline_e2e",
    oracle=_SESS_NATIVE_ORACLE,
    doc="Composed streaming pipeline across a checkpoint restart: "
    "chunked source → withWatermark(6 h) → dropDuplicatesWithinWatermark "
    "→ observe() → session_window agg → parquet sink, run as two query "
    "lives against one checkpoint; life 2 replays duplicates of life-1 "
    "rows (recovered dedup state or late-drop removes every one) and "
    "sentinel chunks force final session eviction into data batches. "
    "Output hash-equals the single-life native session oracle — offsets, "
    "watermark, dedup state and merging session state all recover "
    "(I: multi-stateful composition + fault tolerance).",
    tags=("streaming", "stateful", "sink"),
)
def stream_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2 files/trigger (r14): the exactly-once argument is per-ROW and
    # batching-independent (each replayed row is late-dropped OR
    # dedup-filtered whichever batch carries it), sessions finalize
    # against the FINAL watermark, and the two sentinel chunks still land
    # so the last eviction rides a data batch (the second sentinel file
    # forms its own trailing batch: 5 life-2 files -> ceil(5/2) batches).
    # Hash-proven at 3 SFs + the crafted restart fixture.
    out = _two_lives(
        spark, sf_dir, "spe2e_run", _pipeline_e2e_transform,
        max_files=2, dup_first=100, sentinels=2,
    )
    return out.filter(F.col("user_id") >= 0).orderBy(
        "user_id", "session_start_us"
    )


def _pipeline_e2e_transform(s: DataFrame) -> DataFrame:
    """The composed topology (shared with the crafted-fixture pytest so
    the cross-restart dedup/session-straddle proof runs the same code
    path as the registered key)."""
    return _session_count(
        s.withWatermark("ts", _SESS_NATIVE_WM)
        .dropDuplicatesWithinWatermark(["event_id"])
        .observe(
            "w32bd_spe2e_obs",
            F.count(F.lit(1)).alias("n_post_dedup"),
        )
    )


# ---------------------------------------------------------------------------
# stream_query_listener — StreamingQueryListener (r10): the session-wide
# observability hook (onQueryStarted / onQueryProgress / onQueryIdle /
# onQueryTerminated) a production deployment wires into its metrics
# system — the PUSH counterpart of stream_observe_metrics' progress
# polling. The listener bus is ASYNC: events arrive on a separate
# delivery thread after the calls that caused them, so the key waits for
# the QueryTerminatedEvent of ITS query id (the bus is ordered — once
# terminated arrives, every prior progress event for the query has been
# delivered) before reading the totals, and filters events by query id
# (the bus is session-global; other keys' queries must not leak in).
#
# Full-hash oracle by the lockstep exactly-once argument: the summed
# numInputRows across the query's progress events equals the table count
# (dup_first=0), and exactly one started + one terminated event carry
# the query's id.
# ---------------------------------------------------------------------------

_QL_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(1 AS BIGINT) AS n_started,
  CAST(1 AS BIGINT) AS n_terminated
FROM events
"""


@register(
    "stream_query_listener",
    oracle=_QL_ORACLE,
    doc="StreamingQueryListener: started/progress/terminated events "
    "collected for the watermarked topology's query id off the async "
    "listener bus (termination-ordered read: once the terminated event "
    "arrives, all prior progress was delivered); summed numInputRows "
    "hash-equals the relational row count, exactly one started + one "
    "terminated event (I: the push observability surface beside "
    "observe()/progress polling).",
    tags=("streaming", "quality"),
)
def stream_query_listener(spark: SparkSession, sf_dir: str) -> DataFrame:
    writer = (
        # 2 files/trigger (r14): the key's output is the summed
        # numInputRows across the query's progress events — invariant to
        # batching; still multiple progress events.
        _finalized_windows(_event_stream(spark, sf_dir, max_files=2))
        .writeStream.format("memory")
        .outputMode("append")
    )
    with _query_events(spark) as events:
        with _query(spark, writer) as q:
            qid = str(q.id)
            q.processAllAvailable()
        events.wait(qid)
    n_rows = sum(int(p.numInputRows) for p in events.progress(qid))
    row = [
        (
            n_rows,
            events.started.count(qid),
            events.terminated.count(qid),
        )
    ]
    # r14: literal JVM row (see common.local_rows_df) — createDataFrame's
    # Python-RDD scan paid a worker round trip per action.
    from ..common import local_rows_df

    return local_rows_df(
        spark, "n_rows bigint, n_started bigint, n_terminated bigint", row
    )


# ---------------------------------------------------------------------------
# stream_sink_foreach_rows — the foreach ROW sink (r10): writeStream
# .foreach(writer) with the open(partition, epoch) / process(row) /
# close(error) contract — the per-row custom sink beside foreachBatch's
# per-batch DataFrame hook (stream_foreachbatch) and the Data Source
# stream writers. Each (epoch, partition) opens its own uniquely-named
# file; open() returning True accepts the partition-epoch. foreach is
# an AT-LEAST-ONCE sink under retries — the deterministic lockstep run
# has none, and the oracle is the same finalized-window expression the
# memory-sink topology satisfies.
# ---------------------------------------------------------------------------


@register(
    "stream_sink_foreach_rows",
    oracle=_WM_LATE_ORACLE,
    doc="foreach row sink: the open(partition,epoch)/process(row)/"
    "close(err) writer contract on the watermarked tumbling topology — "
    "per-(epoch,partition) staged files read back and hash-checked "
    "against the lockstep finalized-window oracle; the per-row custom "
    "sink beside foreachBatch and the Data Source stream writers "
    "(I: sink surface; documented at-least-once under retries).",
    tags=("streaming", "sink"),
)
def stream_sink_foreach_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = pid_run_dir(sf_dir, "fesink_out")

    class _RowWriter:
        def __init__(self, path):
            self.path = path
            self._f = None

        def open(self, partition_id, epoch_id):
            import os as _os
            import uuid

            self._f = open(
                _os.path.join(
                    self.path,
                    f"fe-{epoch_id:06d}-{partition_id:04d}-"
                    f"{uuid.uuid4().hex}.jsonl",
                ),
                "w",
            )
            return True

        def process(self, row):
            import json

            self._f.write(
                json.dumps(
                    [int(row["win_start"]), row["event_type"], int(row["n"])]
                )
                + "\n"
            )

        def close(self, error):
            if self._f is not None:
                self._f.close()

    writer = (
        # 2 files/trigger (r14): same final-watermark-only output set as
        # stream_watermark_late (see _event_stream).
        _finalized_windows(_event_stream(spark, sf_dir, max_files=2))
        # coalesce(1) (r14, guide §4 boundary): each NON-EMPTY (epoch,
        # partition) pays a Python foreach-writer round trip; the
        # finalized-window rows per epoch are a handful, so 4 write
        # partitions bought nothing but 4x the worker dispatch. The
        # committed ROW SET is unchanged (per-row sink, read back and
        # globally ordered).
        .coalesce(1)
        .writeStream.foreach(_RowWriter(out))
        .outputMode("append")
    )
    with _query(spark, writer) as q:
        q.processAllAvailable()
    staged = sorted(e for e in os.listdir(out) if e.startswith("fe-"))
    return spark.createDataFrame(
        _jsonl_rows(out, staged), "win_start bigint, event_type string, n bigint"
    ).orderBy("win_start", "event_type")


# ---------------------------------------------------------------------------
# src_statestore_read — the State Data Source (Spark 4): read a stateful
# query's checkpointed STATE back as a batch DataFrame. This is the ops/
# debugging surface a production streaming deployment relies on (inspect a
# wedged aggregation's live state without touching the query). A complete-
# mode groupBy(sum, count) runs once against the shared chunked source and
# is then torn down; `spark.read.format("statestore")` re-opens its
# checkpoint. Because sum/count merge associatively, the final state equals
# the full-table GROUP BY no matter how the micro-batches sliced the input
# — which upgrades the state dump to a full-hash oracle key.
# Scale: state lives in one store per shuffle partition; the reader emits
# one task per store, so a 200-partition production checkpoint reads back
# 200-way parallel with no shuffle (partition_id is exposed but excluded
# here — it hashes by shuffle width, not by data).
# ---------------------------------------------------------------------------

_SS_MICRO = (
    f"CAST(floor({synth.sat('coalesce(value, 0e0)', 1e6)}"
    " * 1000000e0 + 0.5e0) AS BIGINT)"
)

_STATESTORE_ORACLE = f"""
SELECT event_type,
  CAST(sum({_SS_MICRO}) AS BIGINT) AS state_sum_micro,
  CAST(count(*) AS BIGINT) AS state_n
FROM events GROUP BY event_type ORDER BY event_type
"""


def _ssread_checkpoint(sf_dir: str) -> str:
    """Canonical checkpoint path for src_statestore_read's one-per-sf
    state build — shared with tests so the naming logic lives in exactly
    one place (ADVICE r10: the pytest inventory check used to duplicate
    this derivation and would silently read a stale checkpoint if the
    naming ever changed)."""
    return scratch_dir(sf_dir, "ssread_ck")


def _statestore_checkpoint(
    spark: SparkSession,
    sf_dir: str,
    ck: str,
    stamp: str,
    confs: dict | None = None,
) -> str:
    """The one state-store checkpoint of the two state-reader keys: a
    complete-mode groupBy(event_type) of (micro-unit sum, count) over
    the chunked source, 2 files per trigger, run once per (ck, stamp)
    with `confs` set at its start (build_once). Returns `ck`, ready for
    spark.read.format("statestore")."""

    def build(tmp: str) -> None:
        agg = (
            _event_stream(spark, sf_dir, max_files=2)
            .selectExpr("event_type", f"{_SS_MICRO} AS v_micro")
            .groupBy("event_type")
            .agg(
                F.sum("v_micro").alias("state_sum_micro"),
                F.count(F.lit(1)).alias("state_n"),
            )
        )
        writer = (
            agg.writeStream.format("memory")
            .outputMode("complete")
            .option("checkpointLocation", tmp)
        )
        with _query(spark, writer, confs=confs) as q:
            q.processAllAvailable()

    build_once(ck, build, stamp=stamp)
    # The statestore reader resolves the session's StateStoreCoordinator
    # RPC endpoint, which Spark creates lazily on the FIRST streaming
    # query — a cold session hitting a cached checkpoint (build_once
    # cache-hit) has none and fails with RpcEndpointNotFoundException
    # (observed live, r10). Touch the StreamingQueryManager's lazy
    # coordinator ref so the read works without ever starting a query;
    # if the internal accessor moves, the build path (which runs a real
    # query) still initializes it.
    try:
        (
            spark._jsparkSession.sessionState()
            .streamingQueryManager()
            .stateStoreCoordinator()
        )
    except Exception:
        pass
    return ck


@register(
    "src_statestore_read",
    oracle=_STATESTORE_ORACLE,
    doc="State Data Source reader (Spark 4, format 'statestore'): a "
    "complete-mode streaming groupBy (saturating micro-unit sum + count "
    "per event_type) checkpoints across the chunked source, then its "
    "state store is read back as a batch relation — key struct, value "
    "struct {sum, count} — and hash-checked against the relational GROUP "
    "BY (associative merge ⇒ final state = batch aggregate regardless of "
    "micro-batch slicing). The checkpoint builds once per sf via the "
    "race-safe build_once; pytest additionally pins the state-metadata "
    "reader's operator inventory (NS — production state inspection).",
    tags=("source", "streaming", "stateful"),
)
def src_statestore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    ck = _statestore_checkpoint(
        spark, sf_dir, _ssread_checkpoint(sf_dir), f"chunks={_CHUNKS},micro=1e6,v1"
    )
    state = spark.read.format("statestore").load(ck)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.sum").alias("state_sum_micro"),
        F.col("value.count").alias("state_n"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# stream_rocksdb_state — the RocksDB state store provider (the production
# backend for large state: state lives off-heap/on-disk per partition
# with changelog checkpointing, vs the default HDFS-backed in-memory
# map). Same topology, watermark and lockstep oracle as
# stream_watermark_late — the key pins that swapping the provider
# changes NOTHING about results, which is exactly the guarantee a
# deployment relies on when its state outgrows executor heap. The
# provider class is captured at query start, so _query restores the
# session conf as soon as start() returns (other keys never see it).
# ---------------------------------------------------------------------------

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
_ROCKSDB_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
}


@register(
    "stream_rocksdb_state",
    oracle=_WM_LATE_ORACLE,
    doc="RocksDB state store provider with changelog checkpointing: the "
    "stream_watermark_late topology (watermarked tumbling agg, append "
    "mode) run with spark.sql.streaming.stateStore.providerClass = "
    "RocksDBStateStoreProvider — results must hash-equal the same "
    "lockstep finalized-window oracle, pinning provider-independence of "
    "the state contract. Scale: RocksDB is the backend that keeps "
    "100 GB+ of keyed state off-heap with incremental (changelog) "
    "checkpoints; provider conf is scoped to this query only.",
    tags=("streaming", "stateful", "scale"),
)
def stream_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_files=2 (r14): same final-watermark-only oracle as
    # stream_watermark_late — see _event_stream.
    stream = _event_stream(spark, sf_dir, max_files=2)
    out = _run_stream(spark, _finalized_windows(stream), confs=_ROCKSDB_CONFS)
    return out.orderBy("win_start", "event_type")


# ---------------------------------------------------------------------------
# src_statestore_changefeed — the state CHANGE FEED (Spark 4,
# readChangeFeed): per-micro-batch state deltas replayed from the RocksDB
# CHANGELOG files — the CDC view of a stateful operator (audit "when did
# this key's state change and to what", without snapshots per batch).
# Requires RocksDB + changelog checkpointing at WRITE time, composing the
# r10 provider key. maxFilesPerTrigger=2 over the 4 time-ordered chunks
# gives exactly batches {0: chunks 0-1, 1: chunks 2-3} (coalesce(1) wrote
# one file per chunk; the file source lists them in path/mtime order —
# the same lockstep discipline every streaming oracle here relies on).
# The feed emits one 'update' row per (batch, key touched in that batch)
# carrying the CUMULATIVE aggregate — which is exactly SQL-expressible:
# batch of a row = its write-rank chunk < 2 ? 0 : 1, then a correlated
# prefix aggregate per touched (key, batch). Untouched keys emit nothing.
# ---------------------------------------------------------------------------

_CHANGEFEED_ORACLE = f"""
WITH ranked AS (
  SELECT event_type, value,
    row_number() OVER (ORDER BY ts NULLS FIRST, event_id) - 1 AS rn,
    count(*) OVER () AS n
  FROM events
),
batched AS (
  SELECT event_type, value,
    CASE WHEN CAST(floor(rn / ceil(n / 4.0)) AS INT) < 2 THEN 0 ELSE 1 END
      AS batch_id
  FROM ranked
),
touched AS (SELECT DISTINCT event_type, batch_id FROM batched)
SELECT CAST(t.batch_id AS BIGINT) AS batch_id,
  'update' AS change_type,
  t.event_type,
  -- IS NOT DISTINCT FROM: the state store keys NULL event_type like any
  -- other value, but a correlated '=' never matches NULL to itself — the
  -- r13 weird-fixture-v2 NULL-group row made the oracle's prefix
  -- aggregates read 0 for a key Spark correctly tracked at n=1.
  CAST((SELECT sum({_SS_MICRO}) FROM batched x
        WHERE x.event_type IS NOT DISTINCT FROM t.event_type
          AND x.batch_id <= t.batch_id)
    AS BIGINT) AS state_sum_micro,
  CAST((SELECT count(*) FROM batched x
        WHERE x.event_type IS NOT DISTINCT FROM t.event_type
          AND x.batch_id <= t.batch_id)
    AS BIGINT) AS state_n
FROM touched t
ORDER BY batch_id, event_type
"""


@register(
    "src_statestore_changefeed",
    oracle=_CHANGEFEED_ORACLE,
    doc="State change feed (readChangeFeed over a RocksDB-changelog "
    "checkpoint): the same complete-mode micro-unit aggregation as "
    "src_statestore_read, but read back as per-batch state DELTAS — one "
    "'update' per (micro-batch, key touched in it) carrying the "
    "cumulative {sum, count}. Oracle derives each row's batch from its "
    "lockstep write-rank chunk and replays the prefix aggregates "
    "relationally — the CDC contract (which batch changed which key to "
    "what) is fully hash-checked. Scale: the feed replays changelog "
    "files only (no snapshot load), partition-parallel, sized by deltas "
    "not by state.",
    tags=("source", "streaming", "stateful"),
)
def src_statestore_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ck = _statestore_checkpoint(
        spark,
        sf_dir,
        scratch_dir(sf_dir, "ssreadcf_ck"),
        f"chunks={_CHUNKS},micro=1e6,rocksdb,v1",
        confs=_ROCKSDB_CONFS,
    )
    feed = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", 0)
        .load(ck)
    )
    return feed.select(
        F.col("batch_id").cast("bigint").alias("batch_id"),
        "change_type",
        F.col("key.event_type").alias("event_type"),
        F.col("value.sum").alias("state_sum_micro"),
        F.col("value.count").alias("state_n"),
    ).orderBy("batch_id", "event_type")
