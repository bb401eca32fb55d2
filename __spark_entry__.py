"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).

All implementation lives in ``week3_2_practice_big_data__spark`` (see
SURVEY.md §2 for the key inventory); this module only adapts the engine's
query REGISTRY to the driver's three-function surface. Keys are listed in
REGISTRY registration order.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from week3_2_practice_big_data__spark import REGISTRY  # noqa: E402
from week3_2_practice_big_data__spark.session import ensure_session_confs  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "agg_groupby_multi"


def _tuned(builder: Callable[[SparkSession, str], DataFrame]):
    """Apply runtime session confs (timezone, ns-parquet, AQE, shuffle
    partitions) before building — the driver hands us its own session."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_session_confs(spark)
        return builder(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape, SURVEY §7.1 M1) on sf0.001."""
    return _tuned(REGISTRY[FLAGSHIP].builder)(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator key from SURVEY.md §2."""
    return {key: _tuned(q.builder) for key, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per key (omitted → rows-only check)."""
    return {key: q.oracle for key, q in REGISTRY.items() if q.oracle is not None}
