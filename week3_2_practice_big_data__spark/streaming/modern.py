"""Spark 4 streaming surface, round-2 extensions (NS).

Two additions over streams.py's watermark/state/foreachBatch family:

- `stream_transform_with_state` — the transformWithStateInPandas API
  (StatefulProcessor + typed ValueState, RocksDB state store): Spark 4's
  replacement for applyInPandasWithState, with explicit state variables
  and timer support. Same semantics as stream_custom_state (per-user
  running count/sum) so the two APIs are directly comparable in tests.
- `stream_trigger_availablenow` — Trigger.AvailableNow: drain everything
  currently in the source in bounded micro-batches, then stop. The
  incremental-batch production pattern (cron-scheduled catch-up jobs with
  streaming exactly-once semantics, no always-on cluster).

Both are pure-streaming behaviors → rows-only driver check, with pytest
asserting totals against the batch aggregation of the same source.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import synth
from ..registry import register
from .streams import _ROCKSDB_PROVIDER, _event_stream, _query, _sink

try:  # Spark >= 4.0 AND a usable protobuf: transformWithStateInPandas runs
    # a dedicated Python driver worker whose wire protocol is protobuf-based,
    # so the API exists but cannot execute without the `google.protobuf`
    # package. Registration is gated on BOTH (environment contract: gate
    # non-baked-in dependencies behind an import-try, never a broken key).
    from google.protobuf import descriptor  # noqa: F401

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _HAS_TWS = True
except ImportError:
    StatefulProcessor = object  # type: ignore[assignment,misc]
    StatefulProcessorHandle = object  # type: ignore[assignment,misc]
    _HAS_TWS = False


class _RunningTotals(StatefulProcessor):
    """Per-user running (count, sum) in a typed ValueState variable."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("totals", "n BIGINT, total DOUBLE")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        n, total = self._state.get() if self._state.exists() else (0, 0.0)
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        self._state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [round(total, 6)],
            }
        )

    def close(self) -> None:
        pass


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    if not _HAS_TWS:  # pragma: no cover - gated at registration too
        raise NotImplementedError(
            "transformWithStateInPandas needs Spark >= 4.0 and protobuf"
        )
    writer = (
        _event_stream(spark, sf_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_RunningTotals(),
            outputStructType="user_id bigint, n_events bigint, sum_value double",
            outputMode="Update",
            timeMode="None",
        )
        .writeStream.format("memory")
        .outputMode("update")
    )
    provider = {
        "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER
    }
    with _query(spark, writer, confs=provider) as q:
        q.processAllAvailable()
        sink = _sink(spark, q)
    # update-mode sink holds one row per (batch, user); the final state per
    # user is its last (largest n_events) update.
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy("user_id")
    )


if _HAS_TWS:  # pragma: no cover - runtime lacks protobuf in this container
    register(
        "stream_transform_with_state",
        oracle=None,  # custom streaming state → rows-only
        doc="transformWithStateInPandas (Spark 4 StatefulProcessor, RocksDB "
        "state store): per-user running (count, sum) in a typed ValueState, "
        "updated across micro-batches — the successor API to "
        "applyInPandasWithState's stream_custom_state, same semantics by "
        "construction (NS custom stateful).",
        tags=("streaming", "stateful", "udf"),
    )(stream_transform_with_state)


# Complete-mode output after termination is the final snapshot — a plain
# batch GROUP BY (r5). r6 (ADVICE): q6 over a float sum is NOT order-free —
# Spark's parallel accumulation and DuckDB's sequential sum can straddle a
# 1e-6 quantization boundary — so the sum is accumulated in exact BIGINT
# micro-units with the sat gate (stream_custom_state's discipline): each
# row contributes floor(sat(value)·10⁶ + 0.5), integer addition commutes,
# one divide at the end. Identical BIGINT in → identical DOUBLE out.
_ANOW_ORACLE = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  {synth.sum_micro("value")} AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


@register(
    "stream_trigger_availablenow",
    oracle=_ANOW_ORACLE,
    doc="Trigger.AvailableNow: drain the whole backlog in bounded micro-"
    "batches (maxFilesPerTrigger still respected) then terminate — the "
    "scheduled-incremental-batch production pattern. Emits per-event-type "
    "counts + exact micro-unit sums (order-free BIGINT accumulation) "
    "finalized at termination, hash-checked against the batch GROUP BY (NS).",
    tags=("streaming", "trigger"),
)
def stream_trigger_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    writer = (
        _event_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(synth.sum_micro("value")).alias("sum_value"),
        )
        .writeStream.format("memory")
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    with _query(spark, writer) as q:
        q.awaitTermination()
        return _sink(spark, q).orderBy("event_type")
