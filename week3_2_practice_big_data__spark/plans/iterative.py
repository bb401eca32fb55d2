"""Iterative DataFrame algorithms (NS; 'iterative algorithms' category the
driver contract exempts from SQL oracles — but fixed-iteration PageRank IS
SQL-expressible as an unrolled CTE chain, so it gets the full oracle check).

`iter_pagerank_tokens`: PageRank over the token co-occurrence digraph of
`documents` (edge a→b for consecutive tokens). 8 unrolled iterations:
PR₀ = 1/N; PRₖ₊₁(v) = 0.15/N + 0.85·Σ_{u→v} PRₖ(u)/outdeg(u).

Spark-side the edge list is MATERIALIZED AND CACHED before the iteration
chain: Catalyst inlines multiply-referenced CTEs, so the naive one-SQL form
re-tokenizes the corpus once per edge reference (~52 scans of `documents`
in the executed plan). Caching `edges` turns every reference into an
InMemoryTableScan — the iterate-over-cached-edges discipline every
distributed graph engine uses. The DuckDB oracle keeps the single-text CTE
form (DuckDB materializes multiply-referenced CTEs itself).

Scale notes (100 TB): the one corpus-sized pass is the cached edge build
(tokenize → bigram window → count); everything after runs on VOCAB-bounded
relations, so the per-iteration joins broadcast — correct at any corpus
size. Only if the node set itself were huge (web-graph PageRank, not token
vocab) would the iteration switch to both sides hash-partitioned by node
id with periodic checkpoints to cut lineage; the loop itself stays
driver-side Python over lazy plans (no collect inside the loop) either
way. Dangling-node mass is intentionally not redistributed (deterministic,
documented simplification).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..common import _memo
from ..io import load_table
from ..registry import register
from ..functions.text import tokens_sql
from .. import synth

_ITER = 8
_DAMP = "0.85e0"
_JUMP = "0.15e0"

# Checkpoint discipline: every k rounds the loop state is localCheckpoint-ed
# (eager), truncating lineage so plan depth — and with it analysis time,
# task-binary size, and stack depth — stays BOUNDED no matter how many
# rounds run. Values are unchanged; only the lineage is cut. At 8 rounds
# this costs two tiny materializations (the state relations are vocab-/
# node-bounded); at 100+ rounds it is the difference between running and
# OOMing the driver. (VERDICT r1 §Next-round 9.)
_CKPT_EVERY = 4


def _maybe_checkpoint(df: DataFrame, round_idx: int, ckpt_every: int | None):
    if ckpt_every and (round_idx + 1) % ckpt_every == 0:
        return df.localCheckpoint(eager=True)
    return df


def _edges_sql(dialect: str) -> str:
    """Standalone SELECT producing the weighted token-bigram edge list."""
    return f"""
WITH tok AS ({tokens_sql(dialect)}),
pairs AS (
  SELECT token AS src, lead(token, 1) OVER w AS dst
  FROM tok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT src, dst, count(*) AS w FROM pairs WHERE dst IS NOT NULL
GROUP BY src, dst
"""


def _iterate_sql(edges_ref: str) -> str:
    """Iteration chain over an `edges` relation given by `edges_ref` —
    shared text for both engines; only the edges binding differs."""
    parts = [
        f"""WITH edges AS ({edges_ref}),
nodes AS (
  SELECT src AS token FROM edges
  UNION
  SELECT dst AS token FROM edges
),
nn AS (
  -- greatest(·,1): an empty vocabulary must yield an empty result, not a
  -- constant-folded divide-by-zero under ANSI mode
  SELECT greatest(count(*), 1) AS n FROM nodes
),
outdeg AS (SELECT src, sum(w) AS deg FROM edges GROUP BY src),
pr0 AS (
  SELECT token, 1e0 / nn.n AS pr FROM nodes CROSS JOIN nn
)""",
    ]
    for k in range(_ITER):
        parts.append(
            f""",
pr{k + 1} AS (
  SELECT nodes.token,
    {_JUMP} / nn.n + {_DAMP} * coalesce(mass.m, 0e0) AS pr
  FROM nodes
  CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS token, sum(p.pr * e.w / d.deg) AS m
    FROM pr{k} p
    JOIN edges e ON p.token = e.src
    JOIN outdeg d ON e.src = d.src
    GROUP BY e.dst
  ) mass ON nodes.token = mass.token
)"""
        )
    parts.append(
        # 7 dp, not 9: each iteration's group-sum order is engine-dependent
        # (~1e-15 drift after 8 iterations); 7 dp leaves a ~5e-8 guard band
        # while still discriminating ranks (values are ~1e-2).
        f"""
SELECT token, {synth.q6('pr', 7)} AS pagerank
FROM pr{_ITER}
ORDER BY pagerank DESC, token
LIMIT 20
"""
    )
    return "".join(parts)


def _pagerank_oracle() -> str:
    return _iterate_sql(_edges_sql("duckdb"))


def _cached_graph(spark: SparkSession, sf_dir: str):
    """edges / nodes / outdeg as persisted DataFrames + node count.

    Cache substitution only applies to direct DataFrame references (a SQL
    WITH-CTE def is not matched by the cache manager), so the iteration is
    driven through the DataFrame API over these handles.
    """
    import pyspark.sql.functions as F

    def build():
        # The graph is VOCAB-sized (distinct tokens / bigrams), bounded by
        # vocabulary — not corpus-sized. One heavy pass builds it; compact
        # partitioning keeps the per-iteration stages from fragmenting.
        edges = spark.sql(
            _edges_sql("spark"), documents=load_table(spark, sf_dir, "documents")
        ).coalesce(2).persist()
        nodes = (
            edges.select(F.col("src").alias("token"))
            .union(edges.select(F.col("dst").alias("token")))
            .distinct()
            .coalesce(1)
            .persist()
        )
        outdeg = (
            edges.groupBy("src").agg(F.sum("w").alias("deg")).coalesce(1).persist()
        )
        # materializes the caches; n is an exact BIGINT. max(·, 1) mirrors
        # the oracle's greatest(count(*), 1): an empty vocabulary yields an
        # empty result, not a constant-folded divide-by-zero literal.
        n = max(nodes.count(), 1)
        return edges, nodes, outdeg, n

    return _memo(spark, "pagerank_graph", build, sf_dir)


@register(
    "iter_pagerank_tokens",
    oracle=_pagerank_oracle().format(documents="documents"),
    doc="Iterative algorithm surface: 8 PageRank iterations as a driver-side "
    "loop over the cached token co-occurrence digraph; expression text "
    "mirrors the oracle CTE chain exactly, so it stays fully oracle-checked "
    "(NS).",
    tags=("iterative", "ns", "bench"),
)
def iter_pagerank_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pagerank_rounds(spark, sf_dir, _ITER, _CKPT_EVERY)


def _pagerank_rounds(
    spark: SparkSession,
    sf_dir: str,
    n_iter: int,
    ckpt_every: int | None,
) -> DataFrame:
    import pyspark.sql.functions as F

    edges, nodes, outdeg, n = _cached_graph(spark, sf_dir)
    # Same float text as the oracle: nn.n is BIGINT there, `n` is int here —
    # both divisions are double / exact-integer → identical IEEE results.
    pr = nodes.select("token", F.expr(f"1e0 / {n}").alias("pr"))
    for k in range(n_iter):
        # string-qualified aliases: edges/outdeg re-enter pr's own lineage
        # each iteration, so unqualified Column refs would be ambiguous
        # broadcast: every relation here is vocab-bounded, so broadcast
        # joins are the correct strategy at ANY corpus scale — the corpus
        # was reduced to this graph in the one cached aggregation pass
        mass = (
            pr.alias("p")
            .join(F.broadcast(edges.alias("e")), F.expr("p.token = e.src"))
            .join(F.broadcast(outdeg.alias("d")), F.expr("e.src = d.src"))
            .groupBy(F.expr("e.dst").alias("dst"))
            .agg(F.expr("sum(p.pr * e.w / d.deg)").alias("m"))
        )
        pr = (
            nodes.alias("nz")
            .join(F.broadcast(mass.alias("ms")), F.expr("nz.token = ms.dst"), "left")
            .select(
                F.expr("nz.token").alias("token"),
                F.expr(f"{_JUMP} / {n} + {_DAMP} * coalesce(ms.m, 0e0)").alias("pr"),
            )
        )
        pr = _maybe_checkpoint(pr, k, ckpt_every)
    return (
        pr.select("token", F.expr(synth.q6("pr", 7)).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# iter_connected_components — second iterative surface: min-label propagation
# over a seeded SPARSE random graph. The token-bigram graph is unusable for
# this key: the synthetic vocabulary is 31 tokens and its co-occurrence
# graph is near-complete, so every vertex reaches the global min label in
# ~2 hops and "components" degenerate to one row. A seeded Erdős–Rényi-ish
# graph at mean degree 2E/N = 1.5 sits in the textbook regime (one giant
# component + many small fragments) — the LCG edge endpoints reuse the
# repo-wide synth discipline (BIGINT keys, exact integer arithmetic), same
# as the blob tables. lab₀(v)=v; labₖ₊₁(v)=min(labₖ(v), min_{u∈N(v)}
# labₖ(u)); fixed 6 rounds = 6-hop-min semantics, deterministic whether or
# not the giant component has converged. Pure integer min/count — no float
# discipline needed — so the unrolled CTE chain is a complete oracle.
# Scale notes: the Spark side iterates a driver-side loop over a persisted
# edge list (the iterate-over-cached-edges discipline; here it also keeps
# the 6 rounds from re-running the generator). At web-graph node counts
# this becomes the classic large-star/small-star hash-partitioned iteration
# with periodic checkpoints — same loop skeleton, no collect inside.
# ---------------------------------------------------------------------------

_CC_ITER = 6
_CC_SEED = 1117
_CC_N = 600
_CC_E = 450


def _cc_edges_sql(dialect: str) -> str:
    """Seeded sparse random edge list — endpoints are exact-integer floors
    of LCG uniforms, identical doubles on both engines."""
    src = f"CAST(floor({synth.lcg_u('i', _CC_SEED, 0)} * {_CC_N}) AS BIGINT)"
    dst = f"CAST(floor({synth.lcg_u('i', _CC_SEED, 1)} * {_CC_N}) AS BIGINT)"
    return (
        f"SELECT {src} AS src, {dst} AS dst "
        f"FROM {synth.series_sql(_CC_E, 'i', dialect)}"
    )


def _cc_sql(edges_ref: str) -> str:
    parts = [
        f"""WITH edges AS ({edges_ref}),
und AS (
  SELECT src, dst FROM edges
  UNION
  SELECT dst AS src, src AS dst FROM edges
),
nodes AS (SELECT DISTINCT src AS node FROM und),
lab0 AS (SELECT node, node AS lab FROM nodes)""",
    ]
    for k in range(_CC_ITER):
        parts.append(
            f""",
lab{k + 1} AS (
  SELECT n.node, least(n.lab, coalesce(m.minlab, n.lab)) AS lab
  FROM lab{k} n
  LEFT JOIN (
    SELECT e.dst AS node, min(l.lab) AS minlab
    FROM und e JOIN lab{k} l ON e.src = l.node
    GROUP BY e.dst
  ) m ON n.node = m.node
)"""
        )
    parts.append(
        f"""
SELECT lab AS component, count(*) AS n_nodes
FROM lab{_CC_ITER}
GROUP BY lab
ORDER BY n_nodes DESC, component
LIMIT 20
"""
    )
    return "".join(parts)


def _cached_cc_graph(spark: SparkSession):
    """Symmetrized distinct edge list + node set, persisted per session."""
    import pyspark.sql.functions as F

    def build():
        edges = spark.sql(_cc_edges_sql("spark"))
        und = (
            edges.select("src", "dst")
            .union(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .distinct()  # SQL UNION dedups
            .coalesce(1)
            .persist()
        )
        nodes = und.select(F.col("src").alias("node")).distinct().coalesce(1).persist()
        nodes.count()
        return und, nodes

    return _memo(spark, "cc_graph", build)


@register(
    "iter_connected_components",
    oracle=_cc_sql(_cc_edges_sql("duckdb")),
    doc="Iterative connected components: 6 min-label-propagation rounds over "
    "a seeded sparse random graph (mean degree 1.5 → giant component + "
    "fragments) as a driver-side loop on persisted handles; pure integer "
    "ops so the unrolled CTE oracle is bit-exact (NS).",
    tags=("iterative", "ns"),
)
def iter_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cc_rounds(spark, _CC_ITER, _CKPT_EVERY)


def _cc_rounds(
    spark: SparkSession, n_iter: int, ckpt_every: int | None
) -> DataFrame:
    import pyspark.sql.functions as F

    und, nodes = _cached_cc_graph(spark)
    lab = nodes.select("node", F.col("node").alias("lab"))
    for k in range(n_iter):
        m = (
            und.alias("e")
            .join(F.broadcast(lab.alias("l")), F.expr("e.src = l.node"))
            .groupBy(F.expr("e.dst").alias("node"))
            .agg(F.expr("min(l.lab)").alias("minlab"))
        )
        lab = (
            lab.alias("n")
            .join(F.broadcast(m.alias("m")), F.expr("n.node = m.node"), "left")
            .select(
                F.expr("n.node").alias("node"),
                F.expr("least(n.lab, coalesce(m.minlab, n.lab))").alias("lab"),
            )
        )
        lab = _maybe_checkpoint(lab, k, ckpt_every)
    return (
        lab.groupBy(F.col("lab").alias("component"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "component")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# iter_kmeans_points — third iterative surface: 4 unrolled Lloyd iterations
# of k-means (K=4) over seeded 2-D LCG points. Determinism contract: the
# centroid coordinates are q6-QUANTIZED after every update (group-sum order
# across engines differs at ~1e-14; quantizing the centroid — not just the
# output — makes the NEXT round's distances, and therefore the assignment
# itself, engine-identical), distances are fixed-order two-term sums of
# exact doubles, and argmin ties break on centroid id. Empty clusters keep
# their previous coordinates (LEFT JOIN + CASE). Unlike PageRank/CC there
# is no corpus-sized input to protect, so both engines run the SAME single
# unrolled CTE text — the Spark plan is fully declarative and Catalyst
# pipelines all 4 rounds. Scale notes (100 TB): with real data the points
# table is the one big relation; each round is points-CROSS-JOIN-K-centroids
# (broadcast, K rows) → argmin → tiny group-agg, i.e. map-side work with a
# K-row shuffle — the loop moves driver-side over a cached points handle
# exactly like iter_pagerank_tokens.
# ---------------------------------------------------------------------------

_KM_ITER = 4
_KM_K = 4
_KM_N = 200
_KM_SEED = 2718


def _kmeans_sql(dialect: str) -> str:
    px = synth.lcg_u("i", _KM_SEED, 0)
    py = synth.lcg_u("i", _KM_SEED, 1)
    c0x = synth.q6(synth.lcg_u("c + 1000000", _KM_SEED, 0))
    c0y = synth.q6(synth.lcg_u("c + 1000000", _KM_SEED, 1))
    d2 = "(p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)"
    parts = [
        f"""WITH pts AS (
  SELECT i, {px} AS x, {py} AS y FROM {synth.series_sql(_KM_N, "i", dialect)}
),
cent0 AS (
  SELECT c, {c0x} AS cx, {c0y} AS cy
  FROM {synth.series_sql(_KM_K, "c", dialect)} cs
)""",
    ]
    for k in range(_KM_ITER):
        parts.append(
            f""",
asg{k} AS (
  SELECT p.i, p.x, p.y, c.c,
    row_number() OVER (
      PARTITION BY p.i ORDER BY {synth.q6(d2)}, c.c
    ) AS rn
  FROM pts p CROSS JOIN cent{k} c
),
grp{k} AS (
  SELECT c, {synth.q6("sum(x) / count(*)")} AS cx,
    {synth.q6("sum(y) / count(*)")} AS cy, count(*) AS n
  FROM asg{k} WHERE rn = 1 GROUP BY c
),
cent{k + 1} AS (
  SELECT pc.c,
    CASE WHEN g.n IS NULL THEN pc.cx ELSE g.cx END AS cx,
    CASE WHEN g.n IS NULL THEN pc.cy ELSE g.cy END AS cy
  FROM cent{k} pc LEFT JOIN grp{k} g ON pc.c = g.c
)"""
        )
    parts.append(
        f"""
SELECT pc.c, pc.cx, pc.cy, coalesce(g.n, 0) AS n_points
FROM cent{_KM_ITER} pc
LEFT JOIN grp{_KM_ITER - 1} g ON pc.c = g.c
ORDER BY pc.c
"""
    )
    return "".join(parts)


@register(
    "iter_kmeans_points",
    oracle=_kmeans_sql("duckdb"),
    doc="Iterative k-means (4 unrolled Lloyd rounds, K=4) over seeded 2-D "
    "points; q6-quantized centroids per round pin the assignment across "
    "engines, so the full chain is oracle-checked (NS).",
    tags=("iterative", "ns"),
)
def iter_kmeans_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    del sf_dir  # points are synthesized; scale-independent by design
    return spark.sql(_kmeans_sql("spark"))
