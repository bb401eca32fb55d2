"""Array and regex scalar-function surface (SURVEY.md §2.1-B extensions).

REF-ANALOG completions: the reference's per-blob RGB tuples and 280-sample
coordinate arrays (app.py:19,141-144) are fixed-width numeric arrays — the
same shape as `embeddings.embedding` (array<float>, 64-wide); its f-string
formatting (app.py:152,158) generalizes to the regex/string predicate
surface over `documents.text`.

Cross-engine float discipline: element access is exact (float32 widens to
the same double in both engines); the L2 norm is an EXPLICIT 64-term sum in
fixed text order — both engines execute the identical IEEE addition chain,
so no quantizer guard is needed beyond the final q6.

Scale notes (100 TB): element access and fixed-width folds are whole-stage
codegen expressions — no UDF, no shuffle. The only dialect seam is array
indexing (Spark 0-based `emb[i]`, DuckDB 1-based `emb[i+1]`) and the regex
match predicate name (`rlike` vs `regexp_matches`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..registry import register
from .. import synth

_DIM = 64  # embeddings.embedding width (FIXTURES.md)


def _elem(dialect: str, i: int, col: str = "embedding") -> str:
    return f"{col}[{i}]" if dialect == "spark" else f"{col}[{i + 1}]"


def _array_ops_sql(dialect: str) -> str:
    e = lambda i: _elem(dialect, i)  # noqa: E731
    sumsq = " + ".join(
        f"CAST({e(i)} AS DOUBLE) * CAST({e(i)} AS DOUBLE)" for i in range(_DIM)
    )
    first4 = " + ".join(f"CAST({e(i)} AS DOUBLE)" for i in range(4))
    size = (
        "size(embedding)" if dialect == "spark" else "len(embedding)"
    )
    return f"""
SELECT vec_id,
  {size} AS dim,
  {synth.q6(f"CAST({e(0)} AS DOUBLE)")} AS e0,
  {synth.q6(first4)} AS sum_first4,
  {synth.q6(f"sqrt({sumsq})")} AS l2_norm
FROM {{embeddings}}
ORDER BY vec_id
"""


@register(
    "fn_array_ops",
    oracle=_array_ops_sql("duckdb").format(embeddings="embeddings"),
    doc="Array element access, width, fixed-order fold and L2 norm over "
    "embeddings — codegen-only, no UDF (REF-ANALOG of the per-blob arrays "
    "at app.py:19,141-144).",
    tags=("function", "array"),
)
def fn_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    embeddings = load_table(spark, sf_dir, "embeddings")
    return spark.sql(_array_ops_sql("spark"), embeddings=embeddings)


def _regex_sql(dialect: str) -> str:
    if dialect == "spark":
        first_tok = "regexp_extract(text, '[a-z]+', 0)"
        has_spark = "text RLIKE 'spark'"
    else:
        first_tok = "regexp_extract(text, '[a-z]+')"
        has_spark = "regexp_matches(text, 'spark')"
    # occurrence count via length delta — engine-neutral string functions
    n_table = "CAST((length(text) - length(replace(text, 'table', ''))) / 5 AS BIGINT)"
    return f"""
SELECT doc_id,
  {first_tok} AS first_tok,
  CAST({has_spark} AS BOOLEAN) AS has_spark,
  {n_table} AS n_table,
  upper(substr(text, 1, 10)) AS head10
FROM {{documents}}
ORDER BY doc_id
"""


@register(
    "fn_regex_extract",
    oracle=_regex_sql("duckdb").format(documents="documents"),
    doc="Regex extract/match + string-function occurrence count over "
    "documents.text (REF-ANALOG of the string formatting at "
    "app.py:152,158).",
    tags=("function", "text"),
)
def fn_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return spark.sql(_regex_sql("spark"), documents=documents)


# ---------------------------------------------------------------------------
# fn_bitwise_ops — bitwise scalar surface over BIGINT keys: and/or are
# shared text; xor (Spark `^` vs DuckDB `xor()` — DuckDB's `^` is POWER),
# shifts (Spark shiftleft/shiftright fns vs DuckDB `<<`/`>>`), and
# bit_count are dialect-seamed. Pure integer ops → exact oracle.
# ---------------------------------------------------------------------------


def _bitwise_sql(dialect: str) -> str:
    if dialect == "spark":
        xor = "(o_orderkey ^ o_custkey)"
        shl = "shiftleft(o_custkey % 1024, 3)"
        shr = "shiftright(o_orderkey, 4)"
    else:
        xor = "xor(o_orderkey, o_custkey)"
        shl = "((o_custkey % 1024) << 3)"
        shr = "(o_orderkey >> 4)"
    return f"""
SELECT o_orderkey,
  (o_orderkey & 255) AS low_byte,
  (o_orderkey | 1) AS odd_key,
  {xor} AS key_xor,
  {shl} AS cust_shl3,
  {shr} AS key_shr4,
  CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
FROM {{orders}} WHERE o_orderkey < 2000
ORDER BY o_orderkey
"""


@register(
    "fn_bitwise_ops",
    oracle=_bitwise_sql("duckdb").format(orders="orders"),
    doc="Bitwise scalar surface (&, |, xor, shifts, popcount) over BIGINT "
    "keys — codegen-only expressions; xor/shift names are the only dialect "
    "seam (REF-ANALOG).",
    tags=("function",),
)
def fn_bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_bitwise_sql("spark"), orders=load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# udf_arrow_map — the mapInArrow API surface (r9): the RecordBatch-level
# sibling of mapInPandas — no pandas materialization at all, the UDF
# receives and returns pyarrow.RecordBatch, which is the lowest-overhead
# Python hook Spark offers (bulk columnar transforms, format shims,
# zero-copy handoffs to Arrow-native libraries). The kernel computes each
# lineitem's quantity micro-units with pyarrow/numpy float64 ops that are
# textually the same IEEE parse tree as the SQL oracle (floor(q·1e6+0.5)
# of an exact small double — identical BIGINT in numpy, Spark, DuckDB),
# plus a pure string tag. Hash-pinned: Arrow kernel ≡ SQL.
# ---------------------------------------------------------------------------

# The micro-unit cast goes through the shared saturating gate (ADVICE
# r9): NaN→0, clamp to ±1e9 BEFORE the ×1e6 quantize, so the BIGINT cast
# can never overflow (1e9·1e6 = 1e15 ≪ 2^63) — the same synth.sat
# discipline every other micro-unit path uses. The Arrow kernel runs the
# IEEE-identical numpy sequence (isnan mask, clip, multiply, floor).
_ARROW_MAP_ORACLE = f"""
SELECT l_orderkey, l_linenumber,
  l_returnflag || '-' || l_linestatus AS tag,
  CAST(floor({synth.sat("coalesce(l_quantity, 0e0)", 1e9)} * 1000000e0 + 0.5e0) AS BIGINT) AS qty_u
FROM lineitem
ORDER BY l_orderkey, l_linenumber
"""


@register(
    "udf_arrow_map",
    oracle=_ARROW_MAP_ORACLE,
    doc="mapInArrow: RecordBatch-in/RecordBatch-out Python transform (no "
    "pandas layer) computing exact quantity micro-units + a string tag "
    "per lineitem — the bulk-columnar Python hook beside mapInPandas, "
    "hash-pinned against the SQL derivation (J: UDF surface). Output-"
    "linear by construction (bijective per-row map; measured ~1.4M "
    "rows/s through the Arrow kernel at the 100x ladder — the input-side "
    "sort exists only for deterministic driver output and keeps the "
    "kernel to ONE pass, r13).",
    tags=("udf", "function"),
)
def udf_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic output order comes from sorting the NARROW INPUT below
    # the kernel (r13, guide §4.4 class): a post-map orderBy plants a range
    # Exchange ABOVE MapInArrow, and RangePartitioner's bounds sampling
    # re-executes the child — the whole Python pass ran TWICE (measured
    # 2.01 s → 0.92 s without the top sort at sf0.1). mapInArrow preserves
    # intra-partition row order and partitioning, and the sort keys pass
    # through the kernel unchanged, so sorting the 5-column scan first
    # yields byte-identical output rows in the identical order with ONE
    # kernel pass; the range sampling now re-reads only the parquet scan.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        "l_quantity",
    ).orderBy("l_orderkey", "l_linenumber")

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            qty = batch.column("l_quantity").to_numpy(zero_copy_only=False)
            # synth.sat twin: NaN→0 first (np.clip propagates NaN), then
            # saturate to ±1e9 — floor(sat·1e6+0.5) stays within int64.
            qty = np.where(np.isnan(qty), 0.0, qty)
            qty = np.clip(qty, -1e9, 1e9)
            qty_u = np.floor(qty * 1e6 + 0.5).astype(np.int64)
            tag = pc.binary_join_element_wise(
                pc.cast(batch.column("l_returnflag"), pa.string()),
                pc.cast(batch.column("l_linestatus"), pa.string()),
                "-",
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("l_orderkey"),
                    batch.column("l_linenumber"),
                    tag,
                    pa.array(qty_u, type=pa.int64()),
                ],
                names=["l_orderkey", "l_linenumber", "tag", "qty_u"],
            )

    return li.mapInArrow(
        kernel,
        "l_orderkey bigint, l_linenumber int, tag string, qty_u bigint",
    )


# ---------------------------------------------------------------------------
# fn_sql_udf — Spark 4 SQL-language UDFs (r9): CREATE TEMPORARY FUNCTION
# ... RETURNS ... RETURN <expr> — the declarative UDF surface (catalog
# functions defined in pure SQL, resolved by Catalyst and inlined into
# whole-stage codegen — the zero-overhead alternative to Python UDFs for
# expressible logic). Two functions are declared and driven through a
# lineitem aggregate: a discounted-revenue scalar and the engine's own
# micro-unit quantizer re-expressed as a SQL UDF. The DuckDB oracle
# inlines the identical expression text, so the hash proves Catalyst's
# UDF inlining is semantics-preserving.
# ---------------------------------------------------------------------------


def _sql_udf_query(dialect: str) -> str:
    # Spark side references the declared UDFs; DuckDB inlines their
    # bodies verbatim (same parse tree, same doubles).
    if dialect == "spark":
        rev = "w32bd_disc_rev(l_extendedprice, l_discount)"
        qu = "w32bd_micro(" + rev + ")"
    else:
        rev = "(l_extendedprice * (1e0 - l_discount))"
        qu = f"CAST(floor({synth.sat(rev, 1e9)} * 1000000e0 + 0.5e0) AS BIGINT)"
    return f"""
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(sum({qu}) AS BIGINT) AS DOUBLE) / 1000000e0 AS revenue
FROM {{lineitem}}
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "fn_sql_udf",
    oracle=_sql_udf_query("duckdb").format(lineitem="lineitem"),
    doc="Spark 4 SQL-language UDFs (CREATE TEMPORARY FUNCTION ... RETURN "
    "expr): a discounted-revenue scalar and the micro-unit quantizer "
    "declared as catalog SQL functions, driven through a lineitem "
    "aggregate; Catalyst inlines them into codegen, and the oracle "
    "inlines the same expression text — the hash pins the UDF "
    "resolution as semantics-preserving (B: the declarative UDF "
    "surface beside Python/pandas UDFs).",
    tags=("function", "udf"),
)
def fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION w32bd_disc_rev(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1e0 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION w32bd_micro(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor("
        + synth.sat("x", 1e9)
        + " * 1000000e0 + 0.5e0) AS BIGINT)"
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    return spark.sql(_sql_udf_query("spark"), lineitem=lineitem)


# ---------------------------------------------------------------------------
# udf_arrow_grouped — applyInArrow grouped map (r10, VERDICT r9 item 5):
# the Arrow-native sibling of applyInPandas and the last uncovered
# Python-extension entry point (the matrix: pandas_udf / applyInPandas /
# mapInPandas / mapInArrow / applyInArrow / @udtf). Each l_suppkey
# group arrives as ONE pyarrow.Table (per-group batch semantics — unlike
# mapInArrow, whose batches are arbitrary slices of a partition); the
# kernel computes the group's micro-unit quantity extent and each row's
# exact ppm position inside it. Pure int64 arithmetic end to end: the
# saturating quantize (synth.sat twin), subtraction, and a guarded
# floor-division — numpy's int64 `//` equals SQL integer division for
# the non-negative operands here, so the oracle's window-function
# derivation is bit-identical (two derivations, one hash).
#
# Group-size engineering (MEASURED, r10 ladder): the first cut grouped
# by l_orderkey (~4-row groups) — applyInArrow makes ONE Python kernel
# call PER GROUP, so sf0.1's ~150k orders cost 18.6 s and scaled 3.12×
# at 10× (call count grows with N). Per-supplier groups (~600 rows)
# amortize the per-call overhead the way a real kernel should; tiny
# groups are the anti-pattern, and the relational window derivation
# (the oracle text run through Spark) remains the registered scale path
# for the semantic. This key covers the API surface where a kernel
# genuinely needs imperative per-group logic.
# ---------------------------------------------------------------------------

_ARROW_GROUPED_ORACLE = f"""
WITH li AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
    CAST(floor({synth.sat("coalesce(l_quantity, 0e0)", 1e9)}
      * 1000000e0 + 0.5e0) AS BIGINT) AS qty_u
  FROM lineitem
),
ext AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, qty_u,
    min(qty_u) OVER (PARTITION BY l_suppkey) AS grp_min_u,
    max(qty_u) OVER (PARTITION BY l_suppkey) AS grp_max_u
  FROM li
)
SELECT l_suppkey, l_orderkey, l_linenumber, qty_u, grp_min_u, grp_max_u,
  CAST((qty_u - grp_min_u) * 1000000 AS BIGINT)
    // greatest(grp_max_u - grp_min_u, 1) AS pos_ppm
FROM ext
ORDER BY l_orderkey, l_linenumber
"""


@register(
    "udf_arrow_grouped",
    oracle=_ARROW_GROUPED_ORACLE,
    doc="applyInArrow grouped map: each l_suppkey group (~600 rows — "
    "per-call overhead amortized; MEASURED: ~4-row l_orderkey groups "
    "cost 18.6 s / 3.12x at 10x from one Python call per group) arrives "
    "as one pyarrow.Table and the kernel emits the group's micro-unit "
    "quantity extent plus each row's exact ppm position — int64-only "
    "arithmetic (saturating quantize, guarded floor-division), "
    "hash-pinned against the relational window derivation (J: the "
    "Arrow-native grouped-map entry point beside applyInPandas; "
    "per-group batch semantics vs mapInArrow's partition slices).",
    tags=("udf", "function"),
)
def udf_arrow_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _arrow_grouped_kernel_df(spark, sf_dir)
        # The output order keys (l_orderkey) differ from the grouping key,
        # so a pre-sort cannot carry through the group shuffle; instead the
        # lazy localCheckpoint materializes the kernel output ONCE and the
        # range sort's bounds sampling reads the checkpointed partitions —
        # without it the sampling re-executed shuffle+Sort+applyInArrow, a
        # second full Python pass (r13, guide §4.4 class). Same rows, same
        # order; recomputed from parquet on every invocation.
        .localCheckpoint(eager=False)
        .orderBy("l_orderkey", "l_linenumber")
    )


def _arrow_grouped_kernel_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInArrow kernel relation (pre-sort, pre-checkpoint) — the
    plan-visible stage tests/test_plans.py pins FlatMapGroupsInArrow on."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_quantity"
    )

    def kernel(table):
        import numpy as np
        import pyarrow as pa

        qty = table.column("l_quantity").to_numpy(zero_copy_only=False)
        qty = np.where(np.isnan(qty), 0.0, qty)
        qty = np.clip(qty, -1e9, 1e9)
        qty_u = np.floor(qty * 1e6 + 0.5).astype(np.int64)
        mn = np.int64(qty_u.min()) if len(qty_u) else np.int64(0)
        mx = np.int64(qty_u.max()) if len(qty_u) else np.int64(0)
        den = max(int(mx - mn), 1)
        pos = ((qty_u - mn) * 1_000_000) // den
        n = len(qty_u)
        return pa.table(
            {
                "l_suppkey": table.column("l_suppkey"),
                "l_orderkey": table.column("l_orderkey"),
                "l_linenumber": table.column("l_linenumber"),
                "qty_u": pa.array(qty_u, type=pa.int64()),
                "grp_min_u": pa.array(np.full(n, mn), type=pa.int64()),
                "grp_max_u": pa.array(np.full(n, mx), type=pa.int64()),
                "pos_ppm": pa.array(pos, type=pa.int64()),
            }
        )

    return li.groupBy("l_suppkey").applyInArrow(
        kernel,
        "l_suppkey bigint, l_orderkey bigint, l_linenumber int, "
        "qty_u bigint, grp_min_u bigint, grp_max_u bigint, "
        "pos_ppm bigint",
    )


# ---------------------------------------------------------------------------
# fn_udf_sql_register — spark.udf.register (r10): the SQL-callable
# Python UDF surface — a VECTORIZED pandas_udf registered under a
# catalog name and invoked from SQL TEXT (not the DataFrame API), which
# is how notebook/SQL-first users reach Python logic. The kernel is the
# shared saturating micro-quantizer (numpy twin of synth.sat); the
# oracle inlines the same parse tree.
# ---------------------------------------------------------------------------

_UDF_REG_ORACLE = f"""
SELECT event_id,
  CAST(floor({synth.sat("coalesce(value, 0e0)", 1e9)} * 1000000e0 + 0.5e0)
       AS BIGINT) AS value_u
FROM events
ORDER BY event_id
"""


@register(
    "fn_udf_sql_register",
    oracle=_UDF_REG_ORACLE,
    doc="spark.udf.register: a vectorized pandas_udf registered as a "
    "catalog function and called from SQL TEXT — the SQL-first entry "
    "point to Python logic (vs the DataFrame-API pandas_udf keys); the "
    "kernel is the shared sat() micro-quantizer twin, hash-pinned "
    "against the inlined oracle (J: the registration surface beside "
    "CREATE TEMPORARY FUNCTION's pure-SQL UDFs).",
    tags=("udf", "function"),
)
def fn_udf_sql_register(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .udf_kernels import w32bd_pumicro

    spark.udf.register("w32bd_pumicro", w32bd_pumicro)
    # Pre-sorted subquery (r13): a top-level ORDER BY above the
    # ArrowEvalPython node makes the range sampling re-execute the UDF —
    # sorting the 2-column input below it keeps one UDF pass (the pandas
    # UDF is a per-partition order-preserving map, so the emitted order is
    # identical; Catalyst keeps the subquery sort below the Python node).
    return spark.sql(
        "SELECT event_id, w32bd_pumicro(value) AS value_u "
        "FROM (SELECT event_id, value FROM {events} ORDER BY event_id)",
        events=load_table(spark, sf_dir, "events"),
    )


# ---------------------------------------------------------------------------
# udf_pandas_iter — SCALAR_ITER pandas_udf (r10): the iterator form
# (Iterator[pd.Series] -> Iterator[pd.Series]) — the eval type built for
# expensive one-time state (model load, connection) initialized ONCE per
# partition and reused across Arrow batches. The kernel initializes a
# small lookup table before the batch loop (init count pinned in the
# scale note: once per partition, not per batch) and applies the shared
# micro-quantize + a parity tag from the lookup.
# ---------------------------------------------------------------------------

_PANDAS_ITER_ORACLE = f"""
SELECT event_id,
  CAST(floor({synth.sat("coalesce(value, 0e0)", 1e9)} * 1000000e0 + 0.5e0)
       AS BIGINT) AS value_u,
  CASE WHEN event_id % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
FROM events
ORDER BY event_id
"""


@register(
    "udf_pandas_iter",
    oracle=_PANDAS_ITER_ORACLE,
    doc="SCALAR_ITER pandas_udf (Iterator[Series] -> Iterator[Series]): "
    "per-partition one-time init (the model-load pattern) reused across "
    "Arrow batches; kernel = shared sat() micro-quantizer + an "
    "init-table parity tag, hash-pinned against the inlined oracle (J: "
    "the iterator eval type completing the pandas_udf forms).",
    tags=("udf", "function"),
)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import col

    from .udf_kernels import iter_micro, iter_parity

    ev = load_table(spark, sf_dir, "events")
    # Pre-sort the input below the Python nodes (r13): a post-UDF orderBy
    # puts the range sampling above the two ArrowEvalPython nodes and
    # re-executes them; pandas UDF projection preserves per-partition row
    # order, so sorting first emits the identical rows in the identical
    # order with one UDF pass.
    return (
        ev.select("event_id", "value")
        .orderBy("event_id")
        .select(
            "event_id",
            iter_micro(col("value")).alias("value_u"),
            iter_parity(col("event_id")).alias("parity"),
        )
    )
