"""Source operators (SURVEY.md §2.1-A).

`src_range_gen` is the reference's seeded blob-parameter generation
(random.seed + random.uniform loop, app.py:117-118,136-146) as a
deterministic distributed generator: `spark.range`-style series + the
cross-engine LCG (synth.py). `src_sequence` is np.linspace/arange
(app.py:26,41,141). `src_param_lookup` is the palette / theme-dict small
lookup (app.py:11-20,126-130). `src_parquet_scan` is the driver-table scan
surface (absent in the reference, REF-ANALOG by driver contract).

Scale notes: generators are embarrassingly parallel (each row's value is a
pure function of its index — no sequential RNG state), which is exactly why
the LCG is keyed by row id rather than replaying a stream; `spark.range`
partitions the id space across executors.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..common import local_rows_df, pid_run_dir, scratch_dir
from ..io import TABLES, load_table
from ..registry import register
from ..streaming.streams import (
    _WM_LATE_ORACLE,
    _event_stream,
    _finalized_windows,
    _jsonl_rows,
    _query,
    _sink,
)
from .. import synth

# The Python data source readers call these by name: a closure that
# referenced the synth module would carry the whole module (session.py).
from ..synth import M31, lcg_state

_SEED, _NB = 42, 14


def _blobs_q6_sql(dialect: str) -> str:
    cols = ", ".join(
        f"{synth.q6(c)} AS {c}"
        for c in ("r", "wobble", "cx", "cy", "depth", "col_r", "col_g", "col_b")
    )
    return (
        f"SELECT blob_id, {cols} FROM ({synth.blobs_sql(_SEED, _NB, dialect)}) b "
        "ORDER BY blob_id"
    )


@register(
    "src_range_gen",
    oracle=_blobs_q6_sql("duckdb"),
    doc="Seeded deterministic blob-parameter generation (app.py:117-118,"
    "136-146): id-keyed LCG uniforms + HSV palette color, fully parallel.",
    tags=("source", "generative"),
)
def src_range_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_blobs_q6_sql("spark"))


_SEQ_N = 280


def _sequence_sql(dialect: str) -> str:
    theta = synth.linspace("i", "0e0", synth.TWO_PI, _SEQ_N)
    return (
        f"SELECT i, {synth.q6(theta)} AS theta FROM {synth.series_sql(_SEQ_N, 'i', dialect)} "
        "ORDER BY i"
    )


@register(
    "src_sequence",
    oracle=_sequence_sql("duckdb"),
    doc="Evenly spaced series — np.linspace(0, 2π, 280) (app.py:141).",
    tags=("source", "generative"),
)
def src_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_sequence_sql("spark"))


def _palette_sql(dialect: str) -> str:
    """Palette: n rows of (color_id, r, g, b) — diverse_palette, app.py:11-20."""
    p = synth.blob_param_exprs(_SEED, _NB, id_expr="color_id")
    return (
        f"SELECT color_id, {synth.q6(p['col_r'])} AS r, {synth.q6(p['col_g'])} AS g, "
        f"{synth.q6(p['col_b'])} AS b "
        f"FROM {synth.series_sql(_NB, 'color_id', dialect)} ORDER BY color_id"
    )


@register(
    "src_param_lookup",
    oracle=_palette_sql("duckdb"),
    doc="Small static lookup generation: the HSV palette table "
    "(app.py:11-20); broadcast-joined downstream (proj_mod_cycle).",
    tags=("source", "generative"),
)
def src_param_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_palette_sql("spark"))


# ---------------------------------------------------------------------------
# src_range_gen_numpy — the reference-parity generator (SURVEY §7.4.2):
# replays app.py's EXACT RNG stream (random.seed + np.random.seed draw
# order, app.py:117-118,136-146) inside mapInPandas. The stream is
# inherently sequential, so one partition generates all blob params (n≤30 —
# trivially small); the LCG generator above is the parallel scale path.
# Rows-only driver check (NumPy streams are not SQL-expressible);
# bit-parity is asserted in pytest against a local replay.
# ---------------------------------------------------------------------------


def numpy_blob_params(seed: int, n_blobs: int) -> list[dict]:
    """Local replay of the reference's draw order (app.py:117-119,136-146)."""
    import random as pyrandom
    from colorsys import hsv_to_rgb

    import numpy as np

    # app.py:117-119: random.seed(seed); np.random.seed(seed); then
    # diverse_palette reseeds internally (app.py:12-13) and consumes 3n
    # draws; the blob loop at app.py:137 CONTINUES that stream — no reseed.
    pyrandom.seed(seed)
    np.random.seed(seed)
    pyrandom.seed(seed)  # diverse_palette(seed=seed) reseed, app.py:12-13
    palette = []
    for _ in range(n_blobs):  # diverse_palette draws, app.py:15-19
        h = pyrandom.random()
        s = pyrandom.uniform(0.35, 0.65)
        v = pyrandom.uniform(0.75, 0.95)
        palette.append(hsv_to_rgb(h, s, v))
    out = []
    for i in range(n_blobs):
        r = pyrandom.uniform(0.1, 0.26)
        wobble = pyrandom.uniform(0.08, 0.22)
        cx, cy = pyrandom.uniform(0.12, 0.88), pyrandom.uniform(0.12, 0.88)
        noise = np.random.rand(280)
        color = palette[i % len(palette)]
        out.append(
            {
                "blob_id": i,
                "r": r,
                "wobble": wobble,
                "cx": cx,
                "cy": cy,
                "depth": i / float(max(1, n_blobs - 1)),
                "col_r": color[0],
                "col_g": color[1],
                "col_b": color[2],
                "noise_sum": float(noise.sum()),
            }
        )
    return out


def _numpy_literal_oracle() -> str:
    """Literal-snapshot oracle (r5): the NumPy RNG stream itself is not
    SQL-expressible, but its output IS deterministic — so the oracle is
    a VALUES table computed by the SAME local replay the pytest
    bit-parity check uses, with repr-exact float literals (shortest
    round-trip strings parse back to the identical double in DuckDB).
    The driver then hash-checks the EXECUTOR-side replay (mapInPandas,
    worker numpy, Arrow transfer, schema) against the driver-process
    replay — the cross-process half the pytest could not see."""
    cols = (
        "blob_id", "r", "wobble", "cx", "cy", "depth",
        "col_r", "col_g", "col_b", "noise_sum",
    )
    rows = ", ".join(
        "(" + ", ".join(
            # synth.flit, not bare repr: DuckDB types a bare decimal
            # literal DECIMAL and the cast back to DOUBLE drifts 1 ulp
            str(p["blob_id"]) if c == "blob_id" else synth.flit(p[c])
            for c in cols
        ) + ")"
        for p in numpy_blob_params(_SEED, _NB)
    )
    return (
        f"SELECT CAST(blob_id AS BIGINT) AS blob_id, r, wobble, cx, cy, "
        f"depth, col_r, col_g, col_b, noise_sum "
        f"FROM (VALUES {rows}) AS t({', '.join(cols)}) ORDER BY blob_id"
    )


@register(
    "src_range_gen_numpy",
    oracle=_numpy_literal_oracle(),
    doc="Reference-parity seeded generator: replays random/np.random draw "
    "order of app.py:117-119,136-146 bit-exactly via mapInPandas; "
    "hash-checked against a repr-exact literal snapshot of the same "
    "replay (executor vs driver process).",
    tags=("source", "generative", "udf"),
)
def src_range_gen_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    schema = (
        "blob_id bigint, r double, wobble double, cx double, cy double, "
        "depth double, col_r double, col_g double, col_b double, noise_sum double"
    )

    def gen(batches):
        for _ in batches:  # one trigger row → full sequential replay
            yield pd.DataFrame(numpy_blob_params(_SEED, _NB))

    return (
        spark.range(1)
        .coalesce(1)
        .mapInPandas(gen, schema)
        .orderBy("blob_id")
    )


_SCAN_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows FROM {t}" for t in TABLES
) + "\nORDER BY table_name"


@register(
    "src_parquet_scan",
    oracle=_SCAN_ORACLE,
    doc="Scan surface over all 10 driver parquet tables (REF-ANALOG; "
    "driver contract).",
    tags=("source",),
)
def src_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = None
    for t in TABLES:
        df = (
            load_table(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(F.lit(t).alias("table_name"), "n_rows")
        )
        counts = df if counts is None else counts.unionByName(df)
    return counts.orderBy("table_name")


# ---------------------------------------------------------------------------
# sink_partitioned_write — partitioned parquet write + read-back round trip.
# The write-side of the 100 TB story: partition pruning on read only exists
# if the writer laid data out by the pruning key. Writes to the repo-local
# .tmp scratch; the query result is the read-back per-partition count,
# oracle-checked against the source table.
# ---------------------------------------------------------------------------

_PARTWRITE_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register(
    "sink_partitioned_write",
    oracle=_PARTWRITE_ORACLE,
    doc="df.write.partitionBy parquet sink + read-back aggregation: the "
    "layout that enables partition pruning at scale (REF-ANALOG sink).",
    tags=("sink", "scale"),
)
def sink_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir(sf_dir, "partwrite")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    # explicit schema: an empty write leaves no files and schemaless read
    # would fail inference; empty in -> empty out
    back = spark.read.schema(li.schema).parquet(out)
    return (
        back.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# src_python_datasource — the Spark 4 PYTHON DATA SOURCE API (r9): the
# `pyspark.sql.datasource.DataSource` surface a PySpark 4 user implements
# to ingest a system Spark has no built-in connector for. The source here
# is a deterministic partitioned "sensor readings" generator: P=8
# InputPartitions, each emitting its contiguous row range with the
# engine's shared LCG uniform (the Python reader replays synth.lcg_u's
# exact integer arithmetic, so the emitted doubles are bit-identical to
# the SQL form — the src_range_gen_numpy discipline applied to the
# connector API). The DuckDB oracle computes the same relation
# relationally, proving the third derivation (Python reader ≡ Spark SQL
# LCG ≡ DuckDB SQL LCG).
#
# Scale note: partitions() is the parallelism contract — each partition
# reads independently on its executor (8 here; a real connector returns
# one per shard/split). Row-by-row yield is the simple path; RecordBatch
# (Arrow) yield is the fast path for bulk connectors — the plumbing is
# the same either way.
# ---------------------------------------------------------------------------

_PYDS_N = 4096
_PYDS_PARTS = 8
_PYDS_SEED = 7331
_PYDS_SENSORS = 16


def _pyds_sql(dialect: str) -> str:
    u = synth.lcg_u("i", _PYDS_SEED)
    return f"""
SELECT i, CAST(i % {_PYDS_SENSORS} AS INT) AS sensor_id, {u} AS u
FROM {synth.series_sql(_PYDS_N, "i", dialect)}
ORDER BY i
"""


@register(
    "src_python_datasource",
    oracle=_pyds_sql("duckdb"),
    doc="Spark 4 Python Data Source API: a custom partitioned DataSource/"
    "DataSourceReader (8 InputPartitions, contiguous ranges) registered "
    "via spark.dataSource.register and read with spark.read.format — the "
    "reader replays the shared LCG's exact integer arithmetic so the "
    "hash pins Python-reader ≡ SQL-LCG ≡ DuckDB (A: the connector API "
    "surface beside the built-in file sources).",
    tags=("source", "udf", "scale"),
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    n, parts, seed, sensors = _PYDS_N, _PYDS_PARTS, _PYDS_SEED, _PYDS_SENSORS

    class _LcgReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(p) for p in range(parts)]

        def read(self, partition):
            per = (n + parts - 1) // parts
            p = partition.value
            for i in range(p * per, min((p + 1) * per, n)):
                yield (i, i % sensors, lcg_state(i, seed) / M31)

    class _LcgSource(DataSource):
        @classmethod
        def name(cls):
            return "w32bd_lcg"

        def schema(self):
            return "i bigint, sensor_id int, u double"

        def reader(self, schema):
            return _LcgReader()

    spark.dataSource.register(_LcgSource)
    # Lazy localCheckpoint below the sort (r13): orderBy's range-bounds
    # sampling re-executes the child — for a Python BatchScan leaf that
    # means every Python reader ran TWICE (guide §4.4 class). The
    # checkpoint materializes the scan once; the sort samples the
    # checkpointed partitions. Same rows, same order, recomputed per
    # invocation.
    #
    # Caveats (ADVICE r13): localCheckpoint blocks are UNREPLICATED
    # executor-local storage — an executor loss mid-job is unrecoverable
    # (lineage is truncated), and each invocation's blocks stay resident
    # until the driver's ContextCleaner GCs the plan. Acceptable here:
    # local-mode benchmarking has no executor loss, and the blocks are a
    # few MB per run. A fault-tolerant deployment would use reliable
    # checkpoint() to shared storage (or accept the recompute).
    return (
        spark.read.format("w32bd_lcg")
        .load()
        .localCheckpoint(eager=False)
        .orderBy("i")
    )


# ---------------------------------------------------------------------------
# src_python_datasource_stream — the Python Data Source API's STREAMING
# side (r10, VERDICT r9 item 4): simpleStreamReader — how a PySpark 4
# user builds a custom streaming source without JVM code. The reader
# serves the shared LCG in OFFSET-TRACKED chunks: initialOffset() pins
# the start, each read(start) returns one chunk plus the next offset,
# and readBetweenOffsets(start, end) regenerates any range for replay
# after failure — which is trivially exact here because the rows are a
# pure function of the row index (the replayability contract a real
# connector satisfies with a seekable log).
#
# Driven under the STANDARD watermarked topology (event time = t0 + i
# seconds, tumbling 600 s windows per sensor, append mode). Full-hash
# lockstep oracle (the stream_unbounded_socket discipline): rows arrive
# in index order, so append mode emits exactly the windows with
# end <= final watermark. Two far-future SENTINEL rows (sensor_id < 0,
# one per trailing chunk) advance the watermark and force the final
# eviction into ordinary data batches (r8 sentinel discipline); the
# window boundary is insensitive to the one-second sentinel stagger
# (600-grid ends vs wm 2895/2896 s — no end falls between).
#
# Every measure is BIGINT-exact: count + sum of the LCG's INTEGER state
# x (not the [0,1) double), so no float crosses an engine boundary.
# ---------------------------------------------------------------------------

_PYDSS_N = 4096
# 2048 (r14, was 512): each offset chunk is one micro-batch, and every
# micro-batch pays driver-side simpleStreamReader prefetch + trigger +
# state-commit machinery (~0.6 s/batch measured) — 10 batches of fixed
# cost dwarfed the 4096-row data. Two main chunks (+2 sentinel batches)
# still demonstrate offset-range progression and cross-batch watermark
# advance; the emitted set depends only on the FINAL watermark, so the
# output is chunk-size-invariant (hash-proven at the oracle).
_PYDSS_CHUNK = 2048
_PYDSS_SEED = 4242
_PYDSS_T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC, divisible by 600
_PYDSS_DELAY_S = 3000
_PYDSS_SENT_OFFSET_S = 1800


def _pydss_x_sql(i: str = "i") -> str:
    """The LCG integer state as shared SQL text (the INT form of
    synth.lcg_u — exact BIGINT in both engines)."""
    x0 = f"((({i}) * 1000003 + {_PYDSS_SEED} * 7919 + {synth.LCG_C}) % {synth.M31})"
    return f"(({synth.LCG_A} * {x0} + {synth.LCG_C}) % {synth.M31})"


def _pydss_wm_final() -> int:
    # max event time = t0 + (N-1) + sentinel_offset + 1 (second sentinel
    # is staggered 1 s later so its batch is a DATA batch after the
    # watermark already advanced past every real window end)
    return _PYDSS_T0 + (_PYDSS_N - 1) + _PYDSS_SENT_OFFSET_S + 1 - _PYDSS_DELAY_S


_PYDSS_ORACLE = f"""
WITH src AS (
  SELECT i, CAST(i % {_PYDS_SENSORS} AS INT) AS sensor_id,
    {_pydss_x_sql("i")} AS x,
    ({_PYDSS_T0} + i) AS ts_sec
  FROM {synth.series_sql(_PYDSS_N, "i", "duckdb")}
),
agg AS (
  SELECT ts_sec - ts_sec % 600 AS win_start, sensor_id,
    CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sum_x
  FROM src GROUP BY 1, 2
)
SELECT win_start, sensor_id, n, sum_x
FROM agg
WHERE win_start + 600 <= {_pydss_wm_final()}
ORDER BY win_start, sensor_id
"""


@register(
    "src_python_datasource_stream",
    oracle=_PYDSS_ORACLE,
    doc="Python Data Source STREAMING reader (simpleStreamReader): "
    "offset-tracked LCG chunks with exact readBetweenOffsets replay, "
    "run under the standard watermarked tumbling topology in append "
    "mode. Lockstep full-hash oracle: emitted set = windows with end <= "
    "final watermark; BIGINT-only measures (count + sum of the LCG "
    "integer state); far-future sentinel rows force final eviction "
    "into data batches (A/I: the custom streaming connector surface "
    "completing the r9 batch DataSource).",
    tags=("source", "streaming", "udf"),
)
def src_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    n, chunk, seed = _PYDSS_N, _PYDSS_CHUNK, _PYDSS_SEED
    t0, sent_off = _PYDSS_T0, _PYDSS_SENT_OFFSET_S
    sensors = _PYDS_SENSORS
    # The LCG states are computed here, once, and shipped with the reader,
    # which serves every micro-batch from that list.
    xs = [synth.lcg_state(i, seed) for i in range(n)]

    class _LcgStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"offset": 0}

        def _rows(self, lo, hi):
            out = []
            for i in range(lo, hi):
                if i < n:
                    out.append((i, i % sensors, xs[i], t0 + i))
                else:
                    # sentinel rows: one per trailing chunk, staggered 1 s
                    out.append(
                        (i, -1 - (i - n), 0, t0 + (n - 1) + sent_off + (i - n))
                    )
            return out

        def read(self, start):
            # iter(list), not a generator and not a bare list: the
            # prefetch wrapper next()s the result to validate emptiness,
            # copy.copy()s it to serve planInputPartitions, and pickles
            # it into the cache — a list_iterator satisfies all three
            s = start["offset"]
            if s >= n + 2:
                return iter([]), start
            e = min(s + chunk, n) if s < n else s + 1
            return iter(self._rows(s, e)), {"offset": e}

        def readBetweenOffsets(self, start, end):
            return iter(self._rows(start["offset"], end["offset"]))

    class _LcgStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "w32bd_lcg_stream"

        def schema(self):
            return "i bigint, sensor_id int, x bigint, ts_sec bigint"

        def simpleStreamReader(self, schema):
            return _LcgStreamReader()

    spark.dataSource.register(_LcgStreamSource)
    writer = (
        spark.readStream.format("w32bd_lcg_stream")
        .load()
        .withColumn("ts", F.timestamp_seconds(F.col("ts_sec")))
        .withWatermark("ts", f"{_PYDSS_DELAY_S} seconds")
        .groupBy(F.window("ts", "600 seconds"), "sensor_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sum_x"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "sensor_id",
            "n",
            "sum_x",
        )
        .writeStream.format("memory")
        .outputMode("append")
    )
    with _query(spark, writer) as q:
        q.processAllAvailable()
        sink = _sink(spark, q)
    return (
        sink.filter(F.col("sensor_id") >= 0)
        .orderBy("win_start", "sensor_id")
    )


# ---------------------------------------------------------------------------
# The Python Data Source API's WRITE side (r10): with the r9 batch reader
# and the r10 stream reader covering reads, four keys cover the writer
# matrix — Row/Arrow x batch/streaming — through ONE staged-commit sink
# (`_jsonl_sink`) and ONE read-back (`_committed_rows`). The contract
# under test is the two-phase commit: each task's `write()` stages a
# uniquely-named jsonl file and returns a WriterCommitMessage; the
# driver-side commit publishes a manifest listing exactly the committed
# files, and abort deletes what the tasks staged. Staged files NOT in a
# manifest (aborted/speculative tasks) are invisible to readers, so each
# key's driver hash pins the full write -> commit -> read-back loop.
#
# Scale note: write() runs once per input partition on the executors
# (local mode shares the FS; a real deployment points `path` at shared
# storage — the plumbing, not the medium, is what the API defines).
# ---------------------------------------------------------------------------


def _jsonl_sink(arrow: bool = False):
    """The staged-commit sink as a DataSource class, one per writer kind:
    Row writers (`w32bd_jsonl_sink`) or Arrow writers
    (`w32bd_jsonl_arrow_sink`: write() receives pyarrow RecordBatches, the
    zero-copy bulk path a columnar sink wants). Each serves both `writer`
    (batch) and `streamWriter` (micro-batch).

    A staged file holds one JSON array per row, its fields in the order of
    the schema Spark passes in. A batch commit publishes `_MANIFEST`, a
    stream commit `_MANIFEST_<batchId:06d>` per micro-batch (the
    exactly-once unit the engine replays against on failure). Row
    manifests list file names; Arrow manifests list {"file", "n_batches"}
    entries, the RecordBatches each task received, which proves the Arrow
    path (not a row fallback) carried the data.

    The classes are built per call, not at module level, so cloudpickle
    ships them to the Python workers by value."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        DataSourceStreamArrowWriter,
        DataSourceStreamWriter,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Staged(WriterCommitMessage):
        def __init__(self, fname, n_batches):
            self.fname = fname
            self.n_batches = n_batches

    bases = (
        (DataSourceArrowWriter, DataSourceStreamArrowWriter)
        if arrow
        else (DataSourceWriter, DataSourceStreamWriter)
    )

    class _Writer(*bases):
        def __init__(self, path, fields):
            self.path, self.fields = path, fields

        def write(self, iterator):
            import json
            import os
            import uuid

            fname = f"part-{uuid.uuid4().hex}.jsonl"
            n_batches = 0
            with open(os.path.join(self.path, fname), "w") as f:
                if arrow:
                    for batch in iterator:
                        n_batches += 1
                        cols = [batch.column(c).to_pylist() for c in self.fields]
                        for row in zip(*cols):
                            f.write(json.dumps(row) + "\n")
                else:
                    for r in iterator:
                        f.write(json.dumps([r[c] for c in self.fields]) + "\n")
            return _Staged(fname, n_batches)

        def commit(self, messages, batchId=None):
            import json
            import os

            staged = sorted(
                (m for m in messages if m is not None), key=lambda m: m.fname
            )
            manifest = [
                {"file": m.fname, "n_batches": m.n_batches} if arrow else m.fname
                for m in staged
            ]
            name = "_MANIFEST" if batchId is None else f"_MANIFEST_{batchId:06d}"
            with open(os.path.join(self.path, name), "w") as f:
                json.dump(manifest, f)

        def abort(self, messages, batchId=None):
            import os

            for m in messages:
                if m is not None:
                    try:
                        os.remove(os.path.join(self.path, m.fname))
                    except OSError:
                        pass

    class _JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "w32bd_jsonl_arrow_sink" if arrow else "w32bd_jsonl_sink"

        def writer(self, schema, overwrite):
            return _Writer(self.options["path"], schema.fieldNames())

        streamWriter = writer

    return _JsonlSink


def _staged_sink_dir(
    spark: SparkSession, sf_dir: str, name: str, arrow: bool = False
) -> str:
    """Register the staged-commit sink of one writer kind and return this
    call's empty sink directory (see pid_run_dir)."""
    spark.dataSource.register(_jsonl_sink(arrow))
    return pid_run_dir(sf_dir, name)


def _committed_rows(out: str) -> list[tuple]:
    """The one read-back of the staged-commit sink: the rows of the files
    that the manifests in `out` list (`_MANIFEST`, or each
    `_MANIFEST_<batchId>` in batch order), whichever manifest shape. A
    staged file that no manifest lists is never read."""
    import json

    names = []
    for entry in sorted(os.listdir(out)):
        if entry.startswith("_MANIFEST"):
            with open(os.path.join(out, entry)) as f:
                names += [e if isinstance(e, str) else e["file"] for e in json.load(f)]
    return _jsonl_rows(out, names)


# sink_python_datasource — the Row writer on a batch write: the per-type
# rollup is repartitioned to 4 so multiple concurrent tasks exercise the
# commit protocol.

_PYDSW_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "sink_python_datasource",
    oracle=_PYDSW_ORACLE,
    doc="Python Data Source API batch WRITER: the per-type rollup driven "
    "through a custom Python sink — per-task write() stages uniquely "
    "named jsonl files and returns commit messages, driver commit() "
    "publishes the manifest, and the key reads back ONLY manifest-listed "
    "files; the driver hash pins the full write->commit->read-back loop "
    "against the relational oracle (A: the connector API's write side, "
    "completing reader/writer x batch/streaming).",
    tags=("sink", "source", "udf"),
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _staged_sink_dir(spark, sf_dir, "pydsw")
    rollup = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .repartition(4)
    )
    rollup.write.format("w32bd_jsonl_sink").option("path", out).mode(
        "append"
    ).save()
    # r14: literal JVM rows — the read-back is a handful of rollup rows;
    # createDataFrame's Python-RDD scan paid a worker round trip per
    # action (see common.local_rows_df).
    return local_rows_df(
        spark, "event_type string, n bigint, n_users bigint", _committed_rows(out)
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# stream_python_datasource_sink — the Row writer behind a real watermarked
# query (`DataSource.streamWriter()`): per micro-batch, each task stages
# its rows and commit(messages, batchId) publishes that batch's manifest
# (an aborted epoch's staged files never gain one and stay invisible).
#
# The query is the one finalized-window query (streams._finalized_windows)
# — only the sink differs — so the SAME lockstep finalized-window oracle
# applies: the union of manifest-committed rows across batches must
# hash-equal the batch expression.
# ---------------------------------------------------------------------------


@register(
    "stream_python_datasource_sink",
    oracle=_WM_LATE_ORACLE,
    doc="Python Data Source API STREAMING writer: the watermarked tumbling "
    "agg written through a custom Python sink — per-batch per-task "
    "write() stages jsonl, commit(messages, batchId) publishes a "
    "per-batch manifest, and the key reads back only manifest-committed "
    "rows; hash-equals the lockstep finalized-window oracle (A/I: the "
    "connector API's streaming write side, completing reader/writer x "
    "batch/streaming).",
    tags=("sink", "source", "streaming", "udf"),
)
def stream_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _staged_sink_dir(spark, sf_dir, "pydsk_out")
    writer = (
        # 2 files/trigger (r14): output = manifest-committed union =
        # windows finalized by the FINAL watermark — invariant to the
        # chunk→batch grouping (see streams._event_stream).
        _finalized_windows(_event_stream(spark, sf_dir, max_files=2))
        # coalesce(1) (r14, guide §4): each staged file is one Python
        # writer-task round trip per epoch; the finalized rows per epoch
        # are a handful — one task stages them all. Committed row union
        # unchanged; the two-phase commit contract (stage → per-batch
        # manifest) is exercised identically.
        .coalesce(1)
        .writeStream.format("w32bd_jsonl_sink")
        .option("path", out)
        .option("checkpointLocation", os.path.join(out, "_ckpt"))
        .outputMode("append")
    )
    with _query(spark, writer) as q:
        q.processAllAvailable()
    return spark.createDataFrame(
        _committed_rows(out), "win_start bigint, event_type string, n bigint"
    ).orderBy("win_start", "event_type")


# ---------------------------------------------------------------------------
# sink_python_datasource_arrow — the Arrow writer on a batch write
# (DataSourceArrowWriter, r10): write() receives pyarrow RecordBatches
# instead of Rows (the udf_arrow_map argument applied to the connector
# write side); the manifest's per-file batch counts are pinned in pytest.
# ---------------------------------------------------------------------------

_PYDSWA_ORACLE = f"""
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
  CAST(coalesce(sum(CAST(floor({synth.sat("coalesce(l_quantity, 0e0)", 1e9)}
    * 1000000e0 + 0.5e0) AS BIGINT)), 0) AS BIGINT) AS sum_qty_u
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register(
    "sink_python_datasource_arrow",
    oracle=_PYDSWA_ORACLE,
    doc="DataSourceArrowWriter: the Arrow-native batch write path — "
    "write() receives pyarrow RecordBatches (no Row materialization), "
    "stages jsonl per task with the received-batch count recorded, "
    "driver commit() publishes the manifest, read-back of committed "
    "files only; hash-pinned against the relational rollup and the "
    "batch count pinned >0 in pytest (A/J: the columnar write hook "
    "beside the Row writer).",
    tags=("sink", "source", "udf"),
)
def sink_python_datasource_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _staged_sink_dir(spark, sf_dir, "pydswa", arrow=True)
    rollup = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(
                    F.expr(
                        "CAST(floor("
                        + synth.sat("coalesce(l_quantity, 0e0)", 1e9)
                        + " * 1000000e0 + 0.5e0) AS BIGINT)"
                    )
                ),
                F.lit(0).cast("long"),
            ).alias("sum_qty_u"),
        )
        .repartition(4)
    )
    rollup.write.format("w32bd_jsonl_arrow_sink").option("path", out).mode(
        "append"
    ).save()
    # r14: literal JVM rows (see common.local_rows_df)
    return local_rows_df(
        spark,
        "l_returnflag string, l_linestatus string, n bigint, "
        "sum_qty_u bigint",
        _committed_rows(out),
    ).orderBy("l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# src_python_datasource_pushdown — Python reader FILTER PUSHDOWN (r10,
# Spark 4.1 `pushFilters`): the planner hands the reader the query's
# conjunctive filters; the reader CONSUMES the ones its storage can
# evaluate natively (here: EqualTo on sensor_id, GreaterThanOrEqual on
# i — the LCG domain is index-addressable, so consuming them prunes
# GENERATION, the Python twin of a parquet scan's PushedFilters) and
# yields back the rest for Spark to evaluate post-scan. The repo's
# pushdown story applied to the connector API: "filters should reach
# the scan" is now pinned on the Python source too.
#
# The driver hash proves value identity (pruned generation ≡ DuckDB's
# WHERE over the full series); pytest pins that pushdown actually
# HAPPENED — pushFilters runs driver-side at planning (captured filter
# list) and a SparkContext accumulator counts executor-side generated
# rows (== matching rows, not the full domain).
# ---------------------------------------------------------------------------

_PYDSF_N = 4096
_PYDSF_SEED = 9001
_PYDSF_SENSOR = 3
_PYDSF_MIN_I = 1024


def _pydsf_oracle() -> str:
    u = synth.lcg_u("i", _PYDSF_SEED)
    return f"""
SELECT i, CAST(i % {_PYDS_SENSORS} AS INT) AS sensor_id, {u} AS u
FROM {synth.series_sql(_PYDSF_N, "i", "duckdb")}
WHERE i % {_PYDS_SENSORS} = {_PYDSF_SENSOR} AND i >= {_PYDSF_MIN_I}
ORDER BY i
"""


def _pydsf_source(row_counter=None):
    """Build the pushdown-capable DataSource class. `row_counter` (a
    SparkContext accumulator) counts executor-side GENERATED rows — the
    sharp pushdown pin: pushFilters executes in a separate planning
    worker process (plan_data_source_read.py), so a driver-side capture
    list would never see it; the accumulator distinguishes a pruned
    generation (192 rows) from the full domain (4096) regardless of
    where planning ran."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        GreaterThanOrEqual,
        InputPartition,
    )

    n, seed, sensors = _PYDSF_N, _PYDSF_SEED, _PYDS_SENSORS

    class _PushdownReader(DataSourceReader):
        def __init__(self):
            self.eq_sensor = None
            self.min_i = 0

        def pushFilters(self, filters):
            for f in filters:
                if (
                    isinstance(f, EqualTo)
                    and f.attribute == ("sensor_id",)
                ):
                    self.eq_sensor = int(f.value)
                elif (
                    isinstance(f, GreaterThanOrEqual)
                    and f.attribute == ("i",)
                ):
                    self.min_i = max(self.min_i, int(f.value))
                else:
                    yield f  # unsupported: Spark evaluates it post-scan

        def partitions(self):
            return [InputPartition(p) for p in range(4)]

        def read(self, partition):
            per = (n + 3) // 4
            p = partition.value
            lo, hi = p * per, min((p + 1) * per, n)
            # native pruning: jump straight to the consumed filters'
            # index set instead of generating the full range
            start = max(lo, self.min_i)
            for i in range(start, hi):
                if self.eq_sensor is not None and i % sensors != self.eq_sensor:
                    continue
                if row_counter is not None:
                    row_counter.add(1)
                yield (i, i % sensors, lcg_state(i, seed) / M31)

    class _PushdownSource(DataSource):
        @classmethod
        def name(cls):
            return "w32bd_lcg_pushdown"

        def schema(self):
            return "i bigint, sensor_id int, u double"

        def reader(self, schema):
            return _PushdownReader()

    return _PushdownSource


@register(
    "src_python_datasource_pushdown",
    oracle=_pydsf_oracle(),
    doc="Python Data Source filter pushdown (Spark 4.1 pushFilters): the "
    "reader consumes EqualTo(sensor_id)/GreaterThanOrEqual(i) at "
    "planning and prunes GENERATION to the matching index set, yielding "
    "unsupported filters back to Spark — the PushedFilters discipline "
    "extended to the connector API; hash-pinned against DuckDB's WHERE "
    "over the full series, pushdown itself pinned in pytest via the "
    "planning capture + an executor-side row accumulator (A: the "
    "predicate-pushdown hook of the Python reader).",
    tags=("source", "udf", "scale"),
)
def src_python_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the pushFilters hook is gated off by default (Spark 4.1)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(_pydsf_source())
    return (
        spark.read.format("w32bd_lcg_pushdown")
        .load()
        .filter(
            (F.col("sensor_id") == _PYDSF_SENSOR)
            & (F.col("i") >= _PYDSF_MIN_I)
        )
        # Lazy localCheckpoint below the sort (r13): without it, orderBy's
        # range sampling re-executed the pushdown-filtered Python scan a
        # second time (guide §4.4 class). Same rows/order, one scan pass.
        .localCheckpoint(eager=False)
        .orderBy("i")
    )


# ---------------------------------------------------------------------------
# stream_python_datasource_sink_arrow — DataSourceStreamArrowWriter
# (r10): the fourth writer quadrant (Row/Arrow × batch/streaming) — per
# micro-batch, tasks receive pyarrow RecordBatches and stage jsonl with
# the batch count recorded; commit(messages, batchId) publishes the
# per-batch manifest. Query and oracle are stream_watermark_late's.
# ---------------------------------------------------------------------------


@register(
    "stream_python_datasource_sink_arrow",
    oracle=_WM_LATE_ORACLE,
    doc="DataSourceStreamArrowWriter: the Arrow-native STREAMING write "
    "path — per-micro-batch RecordBatches through the two-phase commit "
    "(batch counts recorded in each per-batch manifest), read-back of "
    "committed rows hash-equals the lockstep finalized-window oracle; "
    "completes the writer matrix Row/Arrow x batch/streaming (A/I/J).",
    tags=("sink", "source", "streaming", "udf"),
)
def stream_python_datasource_sink_arrow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = _staged_sink_dir(spark, sf_dir, "pydska_out", arrow=True)
    writer = (
        # 2 files/trigger + coalesce(1) (r14): same argument as the
        # row-writer twin — committed union invariant, one Arrow writer
        # round trip per epoch instead of four.
        _finalized_windows(_event_stream(spark, sf_dir, max_files=2))
        .coalesce(1)
        .writeStream.format("w32bd_jsonl_arrow_sink")
        .option("path", out)
        .option("checkpointLocation", os.path.join(out, "_ckpt"))
        .outputMode("append")
    )
    with _query(spark, writer) as q:
        q.processAllAvailable()
    return spark.createDataFrame(
        _committed_rows(out), "win_start bigint, event_type string, n bigint"
    ).orderBy("win_start", "event_type")
