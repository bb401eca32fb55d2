"""PySpark-native analytics engine with the query/data-processing surface of
octbox1015/week3-2-practice-Big-Data- (see SURVEY.md).

The reference (/root/reference/app.py) is a seeded NumPy generative-art
dataflow; this engine re-expresses every operation it performs — plus the
general relational operators each one instantiates, plus the NORTH-STAR
LLM-data-pipeline operators — as lazy Spark DataFrame plans designed for
100 TB scale (long-format tables, broadcast joins for small dims, no
driver-side loops, Catalyst/AQE left free to optimize).

Public surface:
    get_spark()            — tuned local SparkSession (tests/bench)
    load_table             — parquet ingestion of the input tables
    REGISTRY               — all query keys (SURVEY.md §2) with DuckDB oracles
"""

from .session import get_spark
from .io import TABLES, load_table
from .registry import REGISTRY, register, Query

# Import query modules for their registration side effects.
from .operators import aggregations, joins, windows, sorts, setops, filters, reshape, analytics  # noqa: F401
from .functions import projections, text, similarity, multimodal, scalar_ext  # noqa: F401
from .sources import generators, files  # noqa: F401
from .plans import generative, iterative  # noqa: F401
from .streaming import batch_windows, streams  # noqa: F401
# Registration order is the order __spark_entry__.queries() lists keys in;
# the later extension modules register after the core families.
from .operators import subqueries, tpch, statml, quality, advanced, timeseries, partitioned  # noqa: F401
from .functions import llmprep, semantics  # noqa: F401
from .streaming import modern  # noqa: F401

__all__ = [
    "get_spark",
    "TABLES",
    "load_table",
    "REGISTRY",
    "register",
    "Query",
]
