"""Subquery surface (REF-ANALOG): scalar / correlated-scalar / EXISTS /
IN–NOT IN three-valued logic / LATERAL / recursive CTE.

The reference (`/root/reference/app.py`) has no SQL and therefore no
subqueries; these keys complete the declarative query surface a user of a
relational engine expects, the same way §2.1-D added the join family. Every
key is a single `spark.sql` plan — Catalyst decorrelates the correlated
forms into joins (scalar-agg → aggregate + left outer join, EXISTS → left
semi, NOT EXISTS → left anti), which is exactly the 100 TB-safe shape: no
per-row re-execution of the inner query, one shuffle per decorrelated join.

Scale notes:
- `qry_lateral_topk` is semantics coverage for LATERAL; its physical plan
  (per-group limit under a correlated join) is the slow path — the scale
  form of the same computation is `limit_topk_per_group` (window + filter).
- `qry_recursive_cte` iterates a bounded walk (depth ≤ log2(max key), ~20
  levels at 100 TB key ranges); Spark's recursive CTE executes level-by-
  level like the unrolled iterative plans in plans/iterative.py.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..registry import register


# ---------------------------------------------------------------------------
# qry_scalar_subquery — uncorrelated scalar subquery as a filter threshold.
# max() is order-insensitive and *0.5 is exact in binary floating point, so
# the predicate boundary is bit-identical across engines.
# ---------------------------------------------------------------------------

_SCALAR_SQL = """
SELECT p_partkey, p_name, p_retailprice
FROM {part}
WHERE p_retailprice > (SELECT max(p_retailprice) FROM {part}) * 0.5
ORDER BY p_partkey
"""


@register(
    "qry_scalar_subquery",
    oracle=_SCALAR_SQL.format(part="part"),
    doc="Uncorrelated scalar subquery as a filter threshold (parts above "
    "half the max retail price). Catalyst evaluates the subquery once and "
    "folds it into the scan predicate — one extra job, no join "
    "(REF-ANALOG).",
    tags=("subquery",),
)
def qry_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_SCALAR_SQL, part=load_table(spark, sf_dir, "part"))


# ---------------------------------------------------------------------------
# qry_correlated_scalar — correlated scalar aggregate in the SELECT list.
# Catalyst decorrelates to: orders groupBy(o_custkey) count → LEFT OUTER
# join on custkey → coalesce(count, 0). One aggregation + one join, never a
# per-customer re-scan — the decorrelation IS the scale story.
# ---------------------------------------------------------------------------

_CORR_SCALAR_SQL = """
SELECT c_custkey, c_name,
  (SELECT count(*) FROM {orders} o WHERE o.o_custkey = c.c_custkey) AS n_orders
FROM {customer} c
ORDER BY c_custkey
"""


@register(
    "qry_correlated_scalar",
    oracle=_CORR_SCALAR_SQL.format(customer="customer", orders="orders"),
    doc="Correlated scalar COUNT subquery per customer, decorrelated by "
    "Catalyst into one grouped aggregate + left outer join (zero-order "
    "customers get 0, not NULL, per ANSI COUNT semantics) (REF-ANALOG).",
    tags=("subquery",),
)
def qry_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _CORR_SCALAR_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("customer", "orders")},
    )


# ---------------------------------------------------------------------------
# qry_exists_correlated — EXISTS (left semi) + NOT EXISTS (left anti) in one
# predicate: customers with an urgent order and no pending order.
# ---------------------------------------------------------------------------

_EXISTS_SQL = """
SELECT c_custkey, c_name
FROM {customer} c
WHERE EXISTS (
    SELECT 1 FROM {orders} o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
  AND NOT EXISTS (
    SELECT 1 FROM {orders} o2
    WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'P')
ORDER BY c_custkey
"""


@register(
    "qry_exists_correlated",
    oracle=_EXISTS_SQL.format(customer="customer", orders="orders"),
    doc="Correlated EXISTS + NOT EXISTS combined: planned as a left-semi "
    "join chained with a left-anti join on c_custkey — both shuffle once "
    "on the key and carry only the key column of orders (REF-ANALOG).",
    tags=("subquery",),
)
def qry_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _EXISTS_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("customer", "orders")},
    )


# ---------------------------------------------------------------------------
# qry_in_null_semantics — the NOT IN null footgun, pinned as a contract.
# A NULL in the NOT IN list makes every non-matching comparison UNKNOWN, so
# the count drops to 0; IN still matches rows equal to a non-null element.
# The NULL is injected deterministically (nullif on the minimum custkey of
# the sublist) so both engines see the identical list.
# ---------------------------------------------------------------------------

_IN_NULL_SQL = """
SELECT
  (SELECT count(*) FROM {customer}
   WHERE c_custkey NOT IN (
     SELECT o_custkey FROM {orders} WHERE o_orderstatus = 'F'))
    AS n_not_in_clean,
  (SELECT count(*) FROM {customer}
   WHERE c_custkey NOT IN (
     SELECT nullif(o_custkey,
                   (SELECT min(o_custkey) FROM {orders} WHERE o_orderstatus = 'F'))
     FROM {orders} WHERE o_orderstatus = 'F'))
    AS n_not_in_with_null,
  (SELECT count(*) FROM {customer}
   WHERE c_custkey IN (
     SELECT nullif(o_custkey,
                   (SELECT min(o_custkey) FROM {orders} WHERE o_orderstatus = 'F'))
     FROM {orders} WHERE o_orderstatus = 'F'))
    AS n_in_with_null
"""


@register(
    "qry_in_null_semantics",
    oracle=_IN_NULL_SQL.format(customer="customer", orders="orders"),
    doc="ANSI three-valued logic of IN/NOT IN with a NULL in the subquery "
    "list: NOT IN collapses to 0 rows once any list element is NULL, while "
    "IN keeps matching non-null elements. Both engines must agree exactly "
    "(null-aware anti join in Spark) (REF-ANALOG).",
    tags=("subquery",),
)
def qry_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _IN_NULL_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("customer", "orders")},
    )


# ---------------------------------------------------------------------------
# qry_lateral_topk — correlated LATERAL derived table with ORDER BY + LIMIT:
# top-2 orders per customer. Semantics coverage for LATERAL; the scale form
# of per-group top-k is limit_topk_per_group (window row_number <= k).
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
FROM {customer} c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM {orders} o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2) l
ORDER BY c.c_custkey, l.o_orderkey
"""


@register(
    "qry_lateral_topk",
    oracle=_LATERAL_SQL.format(customer="customer", orders="orders"),
    doc="LATERAL correlated derived table (top-2 orders per customer by "
    "total price, orderkey tie-break). Inner join semantics: zero-order "
    "customers drop out. Scale path for the same semantic is "
    "limit_topk_per_group (REF-ANALOG).",
    tags=("subquery", "join"),
)
def qry_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _LATERAL_SQL,
        **{t: load_table(spark, sf_dir, t) for t in ("customer", "orders")},
    )


# ---------------------------------------------------------------------------
# qry_recursive_cte — WITH RECURSIVE walk of the implicit binary tree over
# part keys (parent = node / 2): per-level node count and key sum. Depth is
# bounded by log2(max p_partkey), so the recursion terminates in ~log(n)
# levels at any scale. Dialect seam: integer division is `DIV` in Spark,
# `//` in DuckDB.
# ---------------------------------------------------------------------------


def _recursive_sql(dialect: str) -> str:
    div = "node DIV 2" if dialect == "spark" else "node // 2"
    return f"""
WITH RECURSIVE walk(node, depth) AS (
  SELECT p_partkey, CAST(0 AS INT) FROM {{part}}
  UNION ALL
  SELECT {div}, depth + 1 FROM walk WHERE node > 1
)
SELECT depth, count(*) AS n_nodes, CAST(sum(node) AS BIGINT) AS sum_nodes
FROM walk
GROUP BY depth
ORDER BY depth
"""


@register(
    "qry_recursive_cte",
    oracle=_recursive_sql("duckdb").format(part="part"),
    doc="WITH RECURSIVE (Spark 4 recursive CTE): halving walk from every "
    "part key to the root — per-depth node counts and exact BIGINT key "
    "sums. Level-synchronous execution, depth bounded by log2(max key) "
    "(REF-ANALOG; the declarative sibling of plans/iterative.py).",
    tags=("subquery", "iterative"),
)
def qry_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The walk materializes ~n·log2(max key) rows in total, which is the
    # genuine work of the query — Spark's default 1M-row recursion safety
    # valve trips at sf1 (200k parts × ~18 levels ≈ 3.6M rows; found by
    # the r11 sf1 bench). The limit is semantics-neutral by construction
    # (it only ABORTS queries, never changes rows), and it is checked at
    # EXECUTION time, so a parse-scoped restore would not cover the
    # driver's later collect — size it session-wide to the engine's
    # bench envelope (sf100: 20M parts × ~25 levels ≈ 5e8).
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(1_000_000_000))
    return spark.sql(_recursive_sql("spark"), part=load_table(spark, sf_dir, "part"))


# ---------------------------------------------------------------------------
# qry_pipe_syntax — Spark 4 SQL PIPE syntax (r10): the |>-chained query
# form (SPARK-49555) — FROM ... |> WHERE ... |> AGGREGATE ... GROUP BY
# ... |> ORDER BY — is a genuinely new public parser surface a Spark 4
# user reaches for. The key re-expresses the flagship Q1 semantic in
# pipe form with the IDENTICAL decimal-exact aggregate expressions and
# aliases; the oracle is the standard-SQL Q1 text, so the hash pins the
# pipe parser as semantics-preserving against the classic form (two
# parsers, one relation — the fn_sql_udf pattern applied to syntax).
# ---------------------------------------------------------------------------

_PIPE_CUTOFF = "1998-09-02 00:00:00"

_PIPE_SPARK = f"""
FROM {{lineitem}}
|> WHERE l_shipdate <= TIMESTAMP '{_PIPE_CUTOFF}'
|> AGGREGATE
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
  GROUP BY l_returnflag, l_linestatus
|> ORDER BY l_returnflag, l_linestatus
"""


def _pipe_oracle() -> str:
    from .aggregations import _Q1_ORACLE

    return _Q1_ORACLE


@register(
    "qry_pipe_syntax",
    oracle=_pipe_oracle(),
    doc="Spark 4 SQL pipe syntax (|> WHERE / AGGREGATE..GROUP BY / ORDER "
    "BY): the flagship Q1 semantic re-expressed through the pipe parser "
    "with identical decimal-exact expressions; oracle is the classic-SQL "
    "text, so the hash pins the new parser surface as semantics-"
    "preserving (REF-ANALOG: the declarative query surface beside "
    "DataFrame and classic SQL).",
    tags=("subquery", "function"),
)
def qry_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_PIPE_SPARK, lineitem=load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# qry_parameterized_sql — parameterized spark.sql() (r10): the
# injection-safe query parametrization API (named AND positional args,
# Spark 3.4+/4) — parameters bind as typed literals at parse time, not
# string splices. The key runs the same revenue filter twice (named
# args, then positional) and cross-checks the two forms in one output;
# the oracle inlines the identical literals.
# ---------------------------------------------------------------------------

_PARAM_CUTOFF = "1995-03-15 00:00:00"
_PARAM_DISC = 0.05


def _param_oracle() -> str:
    return f"""
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS rev
FROM lineitem
WHERE l_shipdate > TIMESTAMP '{_PARAM_CUTOFF}' AND l_discount >= {_PARAM_DISC}
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "qry_parameterized_sql",
    oracle=_param_oracle(),
    doc="Parameterized spark.sql(): named-arg (:cutoff/:mind) and "
    "positional-arg (?) forms of the same revenue filter, cross-checked "
    "row-for-row inside the builder and hash-pinned against the oracle "
    "with inlined literals — the injection-safe parametrization surface "
    "(REF-ANALOG: the programmatic query API beside literals).",
    tags=("subquery", "function"),
)
def qry_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    body = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS rev
FROM {{lineitem}}
WHERE l_shipdate > {cut} AND l_discount >= {d}
GROUP BY l_returnflag
ORDER BY l_returnflag
"""
    named = spark.sql(
        body.format(cut="CAST(:cutoff AS TIMESTAMP)", d=":mind"),
        args={"cutoff": _PARAM_CUTOFF, "mind": _PARAM_DISC},
        lineitem=lineitem,
    )
    positional = spark.sql(
        body.format(cut="CAST(? AS TIMESTAMP)", d="?"),
        args=[_PARAM_CUTOFF, _PARAM_DISC],
        lineitem=lineitem,
    )
    # both binding forms must agree exactly before either is returned
    n = named.collect()
    p = positional.collect()
    if [tuple(r) for r in n] != [tuple(r) for r in p]:
        raise AssertionError("named vs positional parameter binding diverged")
    return named


# ---------------------------------------------------------------------------
# qry_modern_sql_sugar — GROUP BY ALL / ORDER BY ALL / SELECT * EXCEPT
# (r10): the modern-SQL ergonomics surface — ALL resolves the grouping
# set from the non-aggregate select items, ORDER BY ALL orders by every
# output column left-to-right, and * EXCEPT projects away a column
# without enumerating the rest. The oracle is the fully explicit form —
# the hash pins the resolution rules.
# ---------------------------------------------------------------------------


def _sugar_sql(dialect: str) -> str:
    if dialect == "spark":
        return """
SELECT * EXCEPT (dropme) FROM (
  SELECT o_orderpriority, o_orderstatus,
    CAST(count(*) AS BIGINT) AS n,
    CAST(max(o_orderkey) AS BIGINT) AS max_key,
    'x' AS dropme
  FROM {orders}
  WHERE o_orderkey % 3 = 0
  GROUP BY ALL
) t
ORDER BY ALL
"""
    return """
SELECT o_orderpriority, o_orderstatus,
  CAST(count(*) AS BIGINT) AS n,
  CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM {orders}
WHERE o_orderkey % 3 = 0
GROUP BY o_orderpriority, o_orderstatus
ORDER BY o_orderpriority, o_orderstatus, n, max_key
"""


@register(
    "qry_modern_sql_sugar",
    oracle=_sugar_sql("duckdb").format(orders="orders"),
    doc="Modern SQL ergonomics: GROUP BY ALL (grouping set resolved from "
    "the non-aggregate select items), ORDER BY ALL (every output column "
    "left-to-right), SELECT * EXCEPT (column-subtracting projection) — "
    "hash-pinned against the fully explicit form, so the resolution "
    "rules themselves are what the oracle checks (REF-ANALOG).",
    tags=("subquery", "function"),
)
def qry_modern_sql_sugar(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_sugar_sql("spark"), orders=load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# qry_session_variables — SQL session variables (r10, Spark 4 DECLARE /
# SET VAR): typed session-scoped scalars that parametrize later
# statements — the SQL-native configuration surface beside
# parameterized queries (variables persist across statements and can be
# SET from a subquery). The threshold is integer-exact (max key DIV 2),
# so no float boundary crosses engines.
# ---------------------------------------------------------------------------


@register(
    "qry_session_variables",
    oracle="""
WITH thr AS (SELECT CAST(max(o_orderkey) // 2 AS BIGINT) AS v FROM orders)
SELECT CAST(count(*) AS BIGINT) AS n_above,
  CAST(min(o_orderkey) AS BIGINT) AS min_above,
  (SELECT v FROM thr) AS threshold
FROM orders CROSS JOIN thr
WHERE o_orderkey > thr.v
""",
    doc="SQL session variables (DECLARE ... DEFAULT / SET VAR ... = "
    "(subquery)): an integer-exact threshold declared once, assigned "
    "from an aggregate subquery, and consumed by a later independent "
    "statement — variables outlive the statement that set them; oracle "
    "recomputes the same relation with a CTE (REF-ANALOG: the stateful "
    "SQL-session surface).",
    tags=("subquery", "function"),
)
def qry_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE w32bd_thr BIGINT DEFAULT 0"
    )
    spark.sql(
        "SET VAR w32bd_thr = (SELECT CAST(max(o_orderkey) DIV 2 AS BIGINT) "
        "FROM {orders})",
        orders=orders,
    )
    return spark.sql(
        """
SELECT CAST(count(*) AS BIGINT) AS n_above,
  CAST(min(o_orderkey) AS BIGINT) AS min_above,
  w32bd_thr AS threshold
FROM {orders} WHERE o_orderkey > w32bd_thr
""",
        orders=orders,
    )


# ---------------------------------------------------------------------------
# qry_sql_scripting — SQL scripting (r10, Spark 4 BEGIN ... END): the
# procedural SQL surface — DECLARE'd locals, SET from expressions, a
# WHILE loop, and an IF/ELSE branch, with the script's LAST statement as
# the result relation. Control state is integer-exact throughout; the
# oracle computes the loop sum and branch in closed form.
# ---------------------------------------------------------------------------


@register(
    "qry_sql_scripting",
    oracle="""
WITH thr AS (SELECT CAST(max(o_orderkey) // 2 AS BIGINT) AS v FROM orders)
SELECT CAST(45 AS BIGINT) AS loop_sum,
  CAST(count(*) AS BIGINT) AS n_above,
  'big' AS branch
FROM orders CROSS JOIN thr WHERE o_orderkey > thr.v
""",
    doc="Spark 4 SQL scripting (BEGIN..END): DECLARE'd locals, a WHILE "
    "loop accumulating an integer (0..9 -> 45), SET from an aggregate "
    "subquery, and an IF/ELSE branch choosing the result statement — "
    "the script's last statement is the returned relation, hash-pinned "
    "against the closed-form oracle (REF-ANALOG: the procedural SQL "
    "surface beside pipe syntax and session variables).",
    tags=("subquery", "function", "iterative"),
)
def qry_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
BEGIN
  DECLARE i INT DEFAULT 0;
  DECLARE acc BIGINT DEFAULT 0;
  DECLARE thr BIGINT DEFAULT 0;
  WHILE i < 10 DO
    SET acc = acc + i;
    SET i = i + 1;
  END WHILE;
  SET thr = (SELECT CAST(max(o_orderkey) DIV 2 AS BIGINT) FROM {orders});
  IF acc = 45 THEN
    SELECT acc AS loop_sum,
      CAST(count(*) AS BIGINT) AS n_above,
      'big' AS branch
    FROM {orders} WHERE o_orderkey > thr;
  ELSE
    SELECT CAST(-1 AS BIGINT) AS loop_sum,
      CAST(0 AS BIGINT) AS n_above, 'small' AS branch;
  END IF;
END
""",
        orders=load_table(spark, sf_dir, "orders"),
    )


# ---------------------------------------------------------------------------
# qry_dynamic_sql — EXECUTE IMMEDIATE + IDENTIFIER (Spark 4): the dynamic-
# SQL surface. The statement TEXT lives in a session variable, table and
# column names arrive as STRING parameters resolved through IDENTIFIER()
# (the injection-safe way to template object names — a raw format-string
# splice is the anti-pattern this exists to kill), and scalar parameters
# bind via USING. The oracle is the same query written statically: the
# hash pins that dynamic resolution changes nothing.
# ---------------------------------------------------------------------------

_DYNAMIC_ORACLE = """
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS n,
  CAST(max(o_orderkey) AS BIGINT) AS max_key,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
WHERE o_orderkey % 4 = 0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "qry_dynamic_sql",
    oracle=_DYNAMIC_ORACLE,
    doc="Dynamic SQL (Spark 4 EXECUTE IMMEDIATE + IDENTIFIER): the "
    "statement text is a session variable, the table and key-column "
    "names are STRING parameters resolved via IDENTIFIER() — never "
    "string-spliced — and the modulus binds via USING. Hash-pinned "
    "against the statically written oracle, so the dynamic path must "
    "resolve to the identical relation (REF-ANALOG: the SQL-native "
    "templating surface beside qry_parameterized_sql).",
    tags=("subquery", "function"),
)
def qry_dynamic_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql("DECLARE OR REPLACE VARIABLE w32bd_dyn_stmt STRING")
    spark.sql("""
SET VAR w32bd_dyn_stmt =
  'SELECT o_orderpriority,
     CAST(count(*) AS BIGINT) AS n,
     CAST(max(IDENTIFIER(:keycol)) AS BIGINT) AS max_key,
     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
   FROM IDENTIFIER(:tbl)
   WHERE IDENTIFIER(:keycol) % :m = 0
   GROUP BY o_orderpriority
   ORDER BY o_orderpriority'
""")
    # IDENTIFIER(:tbl) resolves a catalog name, so this key binds its input
    # as a temp view — under a name unique to the call, dropped on exit.
    tbl = f"w32bd_dyn_orders_{uuid.uuid4().hex}"
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(tbl)
    try:
        return spark.sql(
            "EXECUTE IMMEDIATE w32bd_dyn_stmt "
            "USING 'o_orderkey' AS keycol, :tbl AS tbl, 4 AS m",
            args={"tbl": tbl},
        )
    finally:
        spark.catalog.dropTempView(tbl)


# ---------------------------------------------------------------------------
# qry_pandas_on_spark — the pandas API on Spark (pyspark.pandas, r12): the
# third query dialect beside SQL and the DataFrame API. A ps.DataFrame is
# a thin plan-builder over the same Catalyst frame — boolean masks,
# assign, groupby().agg(), sort_values all compile to the identical
# logical operators the SQL text would produce, so the whole chain stays
# JVM-side whole-stage-codegen with ZERO Python row traffic (unlike
# to_pandas/apply). The reference (app.py) drives NumPy arrays
# imperatively; this key is the REF-ANALOG for users who want that
# imperative dataframe feel on the relational engine.
#
# Scale discipline (both probed live, pinned in test_plans.py):
#   1. NEVER bridge without an index: `pandas_api()` with the default
#      index plants an AttachDistributedSequence node (a full
#      zipWithIndex-style pass + implied single-stream ordering) before
#      any real work. `index_col=` reuses an existing column and the
#      node vanishes.
#   2. Selective filters go SPARK-SIDE before the bridge: ps masks wrap
#      predicates in pandas NULL-semantics CASE WHEN chains that defeat
#      parquet pushdown (probed: PushedFilters goes empty). The
#      time-range cut here pushes down pre-bridge; the ps-side mask then
#      demonstrates the API on already-pruned data.
#   3. Bare `.rolling()` compiles to a Spark Window whose partition spec
#      is EMPTY (ordered only by ps's __natural_order__ column) — the
#      single-task global-window cliff this repo's win_*_blocked keys
#      exist to avoid. `groupby(...).rolling()` partitions the window by
#      the group key (probed: windowspecdefinition gains the key), so
#      per-entity rolling is safe; corpus-wide rolling belongs on the
#      blocked decompositions, not the ps sugar.
#
# Money/quantity are quantized to exact BIGINT units pre-bridge (the
# floor(x·s + 0.5) shared-text discipline — synth.q6's formula), so every
# aggregate is order-free integer arithmetic and the oracle hash is
# bit-exact.
# ---------------------------------------------------------------------------

_PS_CUT = "1998-01-01 00:00:00"

_PS_UNITS = (
    ("qty_centi", "l_quantity", "1e2"),
    ("price_cents", "l_extendedprice", "1e2"),
    ("disc_bp", "l_discount", "1e4"),
)


def _ps_unit_expr(col: str, scale: str) -> str:
    return f"CAST(floor({col} * {scale} + 0.5e0) AS BIGINT)"


_PS_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(qty_centi) AS BIGINT) AS sum_qty_centi,
  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents,
  CAST(max(disc_bp) AS BIGINT) AS max_disc_bp
FROM (
  SELECT l_returnflag, l_linestatus,
    {_ps_unit_expr('l_quantity', '1e2')} AS qty_centi,
    {_ps_unit_expr('l_extendedprice', '1e2')} AS price_cents,
    {_ps_unit_expr('l_discount', '1e4')} AS disc_bp
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_PS_CUT}'
) t
WHERE qty_centi < 2500
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _ps_prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side pre-bridge stage: pushed-down time cut + exact units."""
    from pyspark.sql import functions as F

    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit(_PS_CUT).cast("timestamp"))
        .select(
            "l_orderkey",
            "l_returnflag",
            "l_linestatus",
            *[
                F.expr(_ps_unit_expr(col, scale)).alias(name)
                for name, col, scale in _PS_UNITS
            ],
        )
    )


@register(
    "qry_pandas_on_spark",
    oracle=_PS_ORACLE,
    doc="pandas API on Spark (pyspark.pandas): the imperative-dataframe "
    "dialect bridged via pandas_api(index_col=...) — boolean mask, "
    "groupby().agg(named aggs), sort_values, reset_index, to_spark() — "
    "compiling to the same Catalyst plan the SQL form produces (no "
    "AttachDistributedSequence, no Python row traffic; both pinned). "
    "Selective filter + exact BIGINT unit quantization run Spark-side "
    "pre-bridge (ps masks defeat parquet pushdown — probed); hash-exact "
    "vs the plain-SQL oracle (REF-ANALOG: the third query dialect).",
    tags=("subquery", "function", "scale"),
)
def qry_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import warnings

    from pyspark.pandas.utils import PandasAPIOnSparkAdviceWarning
    from pyspark.sql import functions as F

    with warnings.catch_warnings():
        # to_spark() advises that the (deliberately dropped) post-agg
        # positional index is lost — intended here, so keep driver runs
        # quiet without touching global warning state.
        warnings.simplefilter("ignore", PandasAPIOnSparkAdviceWarning)
        psdf = _ps_prepared(spark, sf_dir).pandas_api(index_col="l_orderkey")
        masked = psdf[psdf.qty_centi < 2500]
        agg = (
            # dropna=False: ps groupby defaults to pandas semantics
            # (NULL group keys dropped); SQL GROUP BY retains them.
            # TPC-H flag columns are non-null so values are unchanged
            # here, but the bridge must match the oracle on any input
            # (ADVICE r12; NULL-key case pinned in tests).
            masked.groupby(["l_returnflag", "l_linestatus"], dropna=False)
            .agg(
                n=("qty_centi", "count"),
                sum_qty_centi=("qty_centi", "sum"),
                sum_price_cents=("price_cents", "sum"),
                max_disc_bp=("disc_bp", "max"),
            )
            .reset_index()
            .sort_values(["l_returnflag", "l_linestatus"])
        )
        out = agg.to_spark()
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("n").cast("long").alias("n"),
        F.col("sum_qty_centi").cast("long").alias("sum_qty_centi"),
        F.col("sum_price_cents").cast("long").alias("sum_price_cents"),
        F.col("max_disc_bp").cast("long").alias("max_disc_bp"),
    ).orderBy("l_returnflag", "l_linestatus")
