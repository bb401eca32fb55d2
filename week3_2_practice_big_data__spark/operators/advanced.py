"""Advanced distributed-computation patterns (REF-ANALOG / NS-adjacent).

Four shapes that separate a scale-ready engine from a SQL runner, each as
one declarative plan with exact cross-engine results:

- `iter_gd_logreg` — distributed logistic-regression training: 3 unrolled
  gradient-descent steps where every per-row gradient contribution is
  quantized to integer micro-units BEFORE the sum, so gradient aggregation
  is BIGINT-exact (no float-order drift) — the all-reduce discipline of
  distributed SGD expressed relationally. One scan per step, weights are
  scalar broadcasts.
- `join_spatial_grid` — 2-D radius search via grid bucketing: queries
  explode to their 3×3 neighbor cells, candidates come from a cell
  equi-join, the exact distance predicate verifies each candidate — the
  planar twin of join_interval_bucketed (never an all-pairs distance join).
- `agg_bitmap_distinct` — exact distinct counting via word-partitioned
  bitmaps (62 ids per BIGINT word, bit_or + popcount): the shuffle carries
  one word per 62 ids instead of every id — the roaring-bitmap pattern for
  COUNT(DISTINCT) at 100 TB, cross-checked against count(DISTINCT) itself.
- `win_islands_ranges` — gaps-and-islands over an id sequence: collapse
  present ids into contiguous [start, end] ranges (the missing-data /
  compaction report).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import synth
from ..common import checkpointed
from ..io import load_table
from ..registry import register


# ---------------------------------------------------------------------------
# iter_gd_logreg
# ---------------------------------------------------------------------------

_GD_STEPS = 3
_GD_LR = "1e0"


def _gd_grad(j_expr: str) -> str:
    """Integer-quantized per-row gradient component, summed exactly."""
    p = "1e0 / (1e0 + exp(-(p.w0 + p.w1 * d.x1 + p.w2 * d.x2)))"
    return (
        f"CAST(sum(CAST(floor(({p} - d.y) * {j_expr} * 1e6) AS BIGINT)) "
        f"AS DOUBLE) / 1e6"
    )


def _gd_step(prev: str) -> str:
    g0, g1, g2 = _gd_grad("1e0"), _gd_grad("d.x1"), _gd_grad("d.x2")
    return f"""(
  SELECT {synth.q6(f"w0 - {_GD_LR} * g0 / n")} AS w0,
         {synth.q6(f"w1 - {_GD_LR} * g1 / n")} AS w1,
         {synth.q6(f"w2 - {_GD_LR} * g2 / n")} AS w2
  FROM (
    SELECT p.w0, p.w1, p.w2, CAST(count(*) AS DOUBLE) AS n,
      {g0} AS g0, {g1} AS g1, {g2} AS g2
    FROM data d CROSS JOIN {prev} p
    GROUP BY p.w0, p.w1, p.w2
  ) s
)"""


_GD_DATA_SQL = """
SELECT CASE WHEN l_returnflag = 'R' THEN 1e0 ELSE 0e0 END AS y,
  (l_quantity / 50e0) AS x1,
  (l_discount * 10e0) AS x2
FROM {lineitem}
"""


def _gd_logreg_sql(dialect: str, data_ref: str | None = None) -> str:
    weights = "(SELECT 0e0 AS w0, 0e0 AS w1, 0e0 AS w2)"
    for _ in range(_GD_STEPS):
        weights = _gd_step(weights)
    pred = "1e0 / (1e0 + exp(-(f.w0 + f.w1 * d.x1 + f.w2 * d.x2)))"
    correct = (
        f"CASE WHEN (CASE WHEN {pred} >= 0.5e0 THEN 1e0 ELSE 0e0 END) = d.y "
        "THEN 1e0 ELSE 0e0 END"
    )
    del dialect  # shared text apart from the data binding
    return f"""
WITH data AS ({data_ref or _GD_DATA_SQL})
SELECT f.w0, f.w1, f.w2,
  CAST(count(*) AS BIGINT) AS n_rows,
  {synth.q6(f"avg({correct})")} AS accuracy
FROM data d CROSS JOIN {weights} f
GROUP BY f.w0, f.w1, f.w2
"""


@register(
    "iter_gd_logreg",
    oracle=_gd_logreg_sql("duckdb").format(lineitem="lineitem"),
    doc="Distributed logistic regression (predict returned lines from "
    "quantity/discount): 3 unrolled gradient-descent steps; per-row "
    "gradients quantized to integer micro-units before the sum, so the "
    "gradient all-reduce is BIGINT-exact with zero float-order drift. The "
    "training relation is checkpointed once and every step reads the "
    "materialization (0 parquet re-scans — plan test), weights broadcast "
    "(REF-ANALOG; the fully oracle-checked training loop beside "
    "k-means/pagerank).",
    tags=("iterative", "ml", "scale"),
)
def iter_gd_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The unrolled steps nest (step k's subtree contains steps 1..k-1), so
    # an inline data CTE would re-scan lineitem O(steps²) times — 8 parquet
    # scans at 3 steps. Materialize the 3-column training relation once
    # (the checkpointed-relation discipline of the dedup family); every
    # step then reads the in-memory RDD. At 100 TB this is exactly the
    # cached-training-set shape distributed SGD assumes.
    lineitem = load_table(spark, sf_dir, "lineitem")
    data = checkpointed(
        spark, "gd_data", lambda: spark.sql(_GD_DATA_SQL, lineitem=lineitem), sf_dir
    )
    return spark.sql(
        _gd_logreg_sql("spark", data_ref="SELECT y, x1, x2 FROM {data}"), data=data
    )


# ---------------------------------------------------------------------------
# join_spatial_grid
# ---------------------------------------------------------------------------

_SP_N_POINTS = 4000
_SP_N_QUERIES = 16
_SP_R = "0.05e0"  # search radius; grid cell size = radius


def _spatial_sql(dialect: str) -> str:
    px = synth.lcg_u("i + 5000000", 501, 0)
    py = synth.lcg_u("i + 6000000", 501, 0)
    qx = synth.lcg_u("i + 7000000", 777, 0)
    qy = synth.lcg_u("i + 8000000", 777, 0)
    cell = "CAST(floor({v} / {r}) AS BIGINT)".format
    d2 = "(p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)"
    return f"""
WITH points AS (
  SELECT i AS pid, {px} AS x, {py} AS y
  FROM {synth.series_sql(_SP_N_POINTS, "i", dialect)} s
),
queries AS (
  SELECT i AS qid, {qx} AS x, {qy} AS y
  FROM {synth.series_sql(_SP_N_QUERIES, "i", dialect)} s
),
pcells AS (
  SELECT pid, x, y,
    {cell(v="x", r=_SP_R)} AS cx, {cell(v="y", r=_SP_R)} AS cy
  FROM points
),
qcells AS (
  SELECT q.qid, q.x, q.y,
    {cell(v="q.x", r=_SP_R)} + (dx.i - 1) AS cx,
    {cell(v="q.y", r=_SP_R)} + (dy.i - 1) AS cy
  FROM queries q
  CROSS JOIN {synth.series_sql(3, "i", dialect)} dx
  CROSS JOIN {synth.series_sql(3, "i", dialect)} dy
),
verified AS (
  SELECT q.qid, p.pid, {d2} AS d2
  FROM qcells q JOIN pcells p ON q.cx = p.cx AND q.cy = p.cy
  WHERE {d2} <= {_SP_R} * {_SP_R}
)
SELECT qid, count(*) AS n_within,
  {synth.q6("min(sqrt(d2))")} AS nearest_dist
FROM verified
GROUP BY qid
ORDER BY qid
"""


@register(
    "join_spatial_grid",
    oracle=_spatial_sql("duckdb"),
    doc="2-D radius search via grid bucketing: cell-size = radius, queries "
    "explode to their 3x3 neighbor cells, candidates from a (cx, cy) "
    "equi-join, exact distance verify — the planar twin of the bucketed "
    "interval join; per-query neighbor count + nearest distance "
    "(REF-ANALOG; exact recall since a radius ball fits the neighborhood).",
    tags=("join", "spatial", "scale"),
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    del sf_dir  # inputs are engine-synthesized LCG point clouds
    return spark.sql(_spatial_sql("spark"))


# ---------------------------------------------------------------------------
# agg_bitmap_distinct
# ---------------------------------------------------------------------------

_BM_BITS = 62  # ids per word; stay clear of the BIGINT sign/overflow bit


def _bitmap_sql(dialect: str) -> str:
    pos = f"(user_id % {_BM_BITS})"
    if dialect == "spark":
        bit = f"shiftleft(CAST(1 AS BIGINT), CAST({pos} AS INT))"
    else:
        bit = f"(CAST(1 AS BIGINT) << {pos})"
    word = f"CAST((user_id - {pos}) / {_BM_BITS}e0 AS BIGINT)"
    return f"""
WITH bits AS (
  SELECT {word} AS word, {bit} AS bit FROM {{events}}
),
words AS (
  SELECT word, bit_or(bit) AS bm FROM bits GROUP BY word
),
bm_count AS (
  SELECT CAST(sum(CAST(bit_count(bm) AS BIGINT)) AS BIGINT) AS n_bitmap
  FROM words
),
exact_count AS (
  SELECT count(DISTINCT user_id) AS n_exact FROM {{events}}
)
SELECT coalesce(n_bitmap, 0) AS n_bitmap, n_exact,
  (coalesce(n_bitmap, 0) = n_exact) AS agree
FROM bm_count CROSS JOIN exact_count
"""


@register(
    "agg_bitmap_distinct",
    oracle=_bitmap_sql("duckdb").format(events="events"),
    doc="Exact COUNT(DISTINCT) via word-partitioned bitmaps: 62 ids per "
    "BIGINT word, bit_or per word, popcount sum — the shuffle carries one "
    "word per 62 ids instead of every id (the bitmap-index pattern for "
    "dense-ish integer keys at 100 TB), cross-checked against "
    "count(DISTINCT) in the same result row (REF-ANALOG).",
    tags=("agg", "scale"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_bitmap_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# win_islands_ranges
# ---------------------------------------------------------------------------


def _islands_sql(dialect: str) -> str:
    del dialect  # shared text
    return """
WITH present AS (
  SELECT event_id FROM {events} WHERE event_id % 13 <> 0
),
grp AS (
  SELECT event_id,
    event_id - row_number() OVER (ORDER BY event_id) AS g
  FROM present
)
SELECT min(event_id) AS range_start, max(event_id) AS range_end,
  count(*) AS range_len
FROM grp
GROUP BY g
ORDER BY range_start
"""


@register(
    "win_islands_ranges",
    oracle=_islands_sql("duckdb").format(events="events"),
    doc="Gaps-and-islands over the id sequence (every 13th id masked out): "
    "contiguous runs collapse to [start, end, len] ranges via the "
    "id-minus-row_number constant — the missing-data / compaction report. "
    "Single global window here; at scale the same plan runs per id-block "
    "partition with block-boundary stitching (REF-ANALOG).",
    tags=("window", "quality"),
)
def win_islands_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_islands_sql("spark"), events=load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# win_islands_blocked — the SCALE path for gaps-and-islands (r5): the
# classic id-minus-row_number trick above needs ONE GLOBAL row numbering,
# which Spark executes as a single-partition window — the only remaining
# events-sized global sort in the registry. This variant decomposes it
# hierarchically: ids partition into fixed id-range blocks of _ISL_B;
# islands are computed per block (partitioned window, shuffles on b);
# only islands FLUSH with a block edge (≤ 2 per block, the per-block
# summary) can merge across blocks — a run crosses a boundary iff it
# ends at b·B+B−1 and its continuation starts at (b+1)·B — so the one
# remaining unpartitioned window (lag + running sum for chain ids) runs
# over a relation ~n/B the size of the input. Interior islands pass
# through untouched. Same output as win_islands_ranges; the oracle IS
# the global-window SQL, so the decomposition is value-proven, and a
# plan test pins the events-sized window to PARTITION BY b.
# ---------------------------------------------------------------------------

# id-range block width; summary relation is ~2n/B rows. NOT a power of
# two: 4095 ≡ 0 (mod 13) means id 4095 is always masked out, so with
# B = 4096 no run could ever cross a block boundary and the chain-merge
# path would be dead code on this data — 4100 places boundaries inside
# live runs (e.g. 4096..4107 spans the first boundary at sf0.01), so the
# oracle comparison genuinely exercises cross-block merging.
_ISL_B = 4100


def _islands_edges_sql(block: int = _ISL_B) -> str:
    """Per-block islands with edge-flush flags — the ONE events-sized
    pass (partitioned window + group-by), materialized once because
    both the chain merge and the interior pass consume it. `block` is
    overridable so tests can shrink it to force multi-block chains
    (unreachable at width 4100 under the %13 mask)."""
    # The block id is the BLOCK START (event_id - event_id % B): pure
    # BIGINT arithmetic in both engines — `/` would promote to DOUBLE
    # (DuckDB always, Spark always) and round ids past 2^53.
    b = f"(event_id - event_id % {block})"
    return f"""
WITH present AS (
  SELECT event_id, {b} AS b FROM {{events}} WHERE event_id % 13 <> 0
),
loc AS (
  SELECT b, event_id,
    event_id - row_number() OVER (PARTITION BY b ORDER BY event_id) AS g
  FROM present
),
li AS (
  SELECT b, min(event_id) AS s, max(event_id) AS e
  FROM loc GROUP BY b, g
)
SELECT b, s, e,
  (s % {block} = 0) AS lflush,
  (e % {block} = {block - 1}) AS rflush
FROM li
"""


def _islands_blocked_sql(edges_ref: str) -> str:
    return f"""
WITH edges AS ({edges_ref}),
chain AS (
  SELECT s, e,
    CASE WHEN lag(e) OVER (ORDER BY s) = s - 1 THEN 0 ELSE 1 END AS nc
  FROM edges WHERE lflush OR rflush
),
comp AS (
  SELECT s, e,
    sum(nc) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cid
  FROM chain
),
merged AS (
  SELECT min(s) AS range_start, max(e) AS range_end FROM comp GROUP BY cid
),
interior AS (
  SELECT s AS range_start, e AS range_end
  FROM edges WHERE NOT lflush AND NOT rflush
),
islands AS (
  SELECT * FROM merged UNION ALL SELECT * FROM interior
)
SELECT range_start, range_end,
  CAST(range_end - range_start + 1 AS BIGINT) AS range_len
FROM islands
ORDER BY range_start
"""


@register(
    "win_islands_blocked",
    oracle=_islands_sql("duckdb").format(events="events"),
    doc="Gaps-and-islands, hierarchical scale path: per-id-block islands "
    "(partitioned window) + cross-block chain merge over the ~n/4096 "
    "edge-flush summary — removes the registry's last events-sized "
    "single-partition window; value-proven against the global-window "
    "oracle (REF-ANALOG).",
    tags=("window", "quality", "scale"),
)
def win_islands_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")

    def build():
        return spark.sql(_islands_edges_sql(), events=events).coalesce(8)

    return spark.sql(
        _islands_blocked_sql("SELECT b, s, e, lflush, rflush FROM {edges}"),
        edges=checkpointed(spark, "isl_edges", build, sf_dir),
    )


# ---------------------------------------------------------------------------
# iter_kcore — k-core decomposition of the token co-occurrence graph:
# repeatedly remove nodes of degree < k until a fixed point; survivors are
# the graph's cohesive core (the vocabulary-pruning step before graph-based
# text mining). Four unrolled pruning rounds as shared-text CTEs — like
# iter_kmeans, the declarative sibling of the driver-loop iterative family;
# each round is one degree aggregation + one semi-join on the (bounded)
# vocabulary graph.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_sql(dialect: str) -> str:
    from ..functions.text import tokens_sql

    # Each round references the previous edge list three times (two degree
    # union arms + the filter join); inlined CTEs would re-evaluate the
    # whole prefix ~3^rounds times (measured ~57 s PER ENGINE at 4
    # rounds). DuckDB materializes each round explicitly (AS MATERIALIZED);
    # the Spark builder runs the equivalent driver loop with a
    # localCheckpoint per round (the pagerank/CC discipline) and is checked
    # against this oracle.
    mat = " MATERIALIZED" if dialect == "duckdb" else ""
    rounds = []
    prev_edges = "edges0"
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
deg{r} AS{mat} (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM {prev_edges}
    UNION ALL
    SELECT b AS node FROM {prev_edges}) u
  GROUP BY node
),
keep{r} AS{mat} (SELECT node FROM deg{r} WHERE d >= {_KCORE_K}),
edges{r} AS{mat} (
  SELECT e.a, e.b FROM {prev_edges} e
  JOIN keep{r} ka ON e.a = ka.node
  JOIN keep{r} kb ON e.b = kb.node
)""")
        prev_edges = f"edges{r}"
    chain = ",".join(rounds)
    return f"""
WITH tok AS{mat} ({tokens_sql(dialect)}),
pairs AS{mat} (
  SELECT doc_id, token,
    lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM tok
),
edges0 AS{mat} (
  SELECT DISTINCT
    CASE WHEN token < nxt THEN token ELSE nxt END AS a,
    CASE WHEN token < nxt THEN nxt ELSE token END AS b
  FROM pairs WHERE nxt IS NOT NULL AND token <> nxt
),{chain},
final_deg AS{mat} (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM {prev_edges}
    UNION ALL
    SELECT b AS node FROM {prev_edges}) u
  GROUP BY node
)
SELECT node AS token, degree
FROM final_deg
ORDER BY degree DESC, token
LIMIT 50
"""


@register(
    "iter_kcore",
    oracle=_kcore_sql("duckdb").format(documents="documents"),
    doc="K-core decomposition (k=3, 4 unrolled pruning rounds) of the "
    "distinct adjacent-token co-occurrence graph: each round is one "
    "degree aggregation + one keep semi-join over the vocabulary-bounded "
    "edge list — the graph-cohesion pruning beside pagerank/connected-"
    "components, fully oracle-checked (REF-ANALOG).",
    tags=("iterative", "graph"),
)
def iter_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    from ..functions.text import tokens_sql

    edges = spark.sql(f"""
SELECT DISTINCT
  CASE WHEN token < nxt THEN token ELSE nxt END AS a,
  CASE WHEN token < nxt THEN nxt ELSE token END AS b
FROM (
  SELECT doc_id, token,
    lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM ({tokens_sql("spark")}) tok) p
WHERE nxt IS NOT NULL AND token <> nxt
""", documents=load_table(spark, sf_dir, "documents")).localCheckpoint(eager=True)
    for _ in range(_KCORE_ROUNDS):
        deg = (
            edges.select(F.col("a").alias("node"))
            .unionAll(edges.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= _KCORE_K).select("node")
        edges = (
            edges.join(keep.withColumnRenamed("node", "a"), "a")
            .join(keep.withColumnRenamed("node", "b"), "b")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    final = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("node").alias("token"), "degree")
        .orderBy(F.desc("degree"), "token")
        .limit(50)
    )
    return final


# ---------------------------------------------------------------------------
# graph_triangle_count — triangle counting on the distinct adjacent-token
# co-occurrence graph (the third classic distributed-graph primitive beside
# pagerank/cc/kcore): orient every edge a<b, then one two-hop equi-join
# chain e1(a,b)·e2(b,c)·e3(a,c) counts each triangle exactly once — the
# standard shuffle-on-vertex MapReduce formulation; no vertex ever sees
# more than its neighborhood. Output: per-node triangle memberships
# (top 20) plus the global total as a cross-joined scalar.
# ---------------------------------------------------------------------------


def _triangle_edges_sql(dialect: str) -> str:
    """The oriented (a<b) distinct co-occurrence edge list — one corpus
    pass. Referenced THREE times by the two-hop join chain, so the
    Spark builder materializes it once (Spark CTE inlining re-ran the
    tokens scan + lead window per reference: 12 parquet scans / 12
    windows measured pre-materialization)."""
    from ..functions.text import tokens_sql

    return f"""
WITH tok AS ({tokens_sql(dialect)}),
pairs AS (
  SELECT doc_id, token,
    lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM tok
)
SELECT DISTINCT
  CASE WHEN token < nxt THEN token ELSE nxt END AS a,
  CASE WHEN token < nxt THEN nxt ELSE token END AS b
FROM pairs WHERE nxt IS NOT NULL AND token <> nxt
"""


def _triangle_sql(dialect: str, edges_ref: str | None = None) -> str:
    # tri is referenced ONCE: memberships come from an explode of the
    # (a, b, c) triple (not three UNION ALL re-reads), and the global
    # total is the window sum of memberships / 3 (each triangle
    # contributes exactly three memberships) instead of a cross-joined
    # second aggregation over tri.
    nodes = (
        "SELECT explode(array(a, b, c)) AS node FROM tri"
        if dialect == "spark"
        else "SELECT unnest([a, b, c]) AS node FROM tri"
    )
    return f"""
WITH edges AS ({edges_ref or _triangle_edges_sql(dialect)}),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM edges e1
  JOIN edges e2 ON e1.b = e2.a
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
member AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri
  FROM ({nodes}) u
  GROUP BY node
)
SELECT node AS token, n_tri,
  CAST(sum(n_tri) OVER () / 3 AS BIGINT) AS n_triangles
FROM member
ORDER BY n_tri DESC, token
LIMIT 20
"""


def _tri_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oriented token co-occurrence edge list, materialized once and
    shared by the triangle/clustering/degree builders."""
    documents = load_table(spark, sf_dir, "documents")
    return checkpointed(
        spark, "tri_edges",
        lambda: spark.sql(
            _triangle_edges_sql("spark"), documents=documents
        ).coalesce(8),
        sf_dir,
    )


@register(
    "graph_triangle_count",
    oracle=_triangle_sql("duckdb").format(documents="documents"),
    doc="Triangle counting on the oriented (a<b) token co-occurrence "
    "graph: one two-hop equi-join chain counts each triangle once (the "
    "classic MapReduce formulation); per-node memberships top-20 + global "
    "total. Completes the pagerank/cc/kcore graph family (REF-ANALOG).",
    tags=("graph", "iterative"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _triangle_sql("spark", edges_ref="SELECT a, b FROM {tri}"),
        tri=_tri_edges(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# graph_bipartite_jaccard — node similarity on the part↔supplier bipartite
# graph (link prediction / "suppliers like this one"): project supplier
# pairs through shared parts, score by Jaccard over part neighborhoods.
# Candidate generation is the per-part equi-join — fan-out is bounded by
# suppliers-per-part (measured on this data: mean ≈ 30, max 52 — ~8.7M
# candidate pairs at sf0.1, the key's genuine ~2.5 s of work), so
# candidate volume is LINEAR in the edge list with a bounded per-part
# constant, never the |S|² product.
# Degrees broadcast onto the bounded pair relation; top-k is ORDER BY +
# LIMIT (TakeOrderedAndProject — per-partition heaps, no global sort).
# The co-occurrence JOIN shape is agg_market_basket's; the semantics
# here are graph node-similarity (symmetric Jaccard over neighborhoods
# with degree evidence), completing the pagerank/cc/kcore/triangle
# family with its first similarity primitive.
# ---------------------------------------------------------------------------


_BIP_EDGES_SQL = "SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM {lineitem}"

# Per-part fan-out cap for pair generation — the graph twin of the dedup
# family's df ≤ 50 span cap: a part shared by k suppliers emits C(k,2)
# pairs, so ONE ubiquitous part (a hot key at 100 TB) makes candidate
# volume quadratic in its degree while carrying almost no similarity
# evidence (a part everyone stocks distinguishes nobody — the same
# rationale as dropping corpus-wide shingles). Parts over the cap are
# excluded from candidate GENERATION only; supplier degrees (the Jaccard
# denominator / evidence columns) still count every part. This data
# measures max 52 suppliers per part, so the cap is value-identical at
# every current sf (old-vs-new oracle frames compared equal in DuckDB) —
# it exists for the hot-part tail the synthetic catalog doesn't have.
_BIP_PART_CAP = 64


def _bipartite_jaccard_sql(
    dialect: str,
    edges_ref: str | None = None,
    ecap_ref: str | None = None,
) -> str:
    del dialect  # shared text
    # jac is exact: BIGINT counts, one IEEE division — identical doubles
    # both engines, so the ORDER BY on the unrounded value is a total
    # deterministic order (ties broken by the unique (supp1, supp2)).
    # `edges` is referenced four times (pdeg + deg + both join sides):
    # the Spark builder materializes it once (CTE inlining re-ran the
    # lineitem scan + DISTINCT per reference — 4 scans measured).
    #
    # r13: the part cap moves from the generated pairs onto the edge list
    # itself (ecap) — see _resource_alloc_sql for the join-reordering
    # measurement (29.8 s → 9.6 s on the hot-part fixture, identical
    # result). Supplier degrees (deg — the Jaccard denominator) still
    # count EVERY part, exactly as before.
    jac = "CAST(n_common AS DOUBLE) / CAST(deg1 + deg2 - n_common AS DOUBLE)"
    ecap = ecap_ref or (
        f"SELECT e.p, e.s FROM edges e "
        f"JOIN pdeg pd0 ON pd0.p = e.p AND pd0.d <= {_BIP_PART_CAP}"
    )
    return f"""
WITH edges AS (
  {edges_ref or _BIP_EDGES_SQL}
),
deg AS (
  SELECT s, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY s
),
pdeg AS (
  SELECT p, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY p
),
ecap AS (
  {ecap}
),
common AS (
  SELECT a.s AS supp1, b.s AS supp2, CAST(count(*) AS BIGINT) AS n_common
  FROM ecap a
  JOIN ecap b ON a.p = b.p AND a.s < b.s
  GROUP BY a.s, b.s
  HAVING count(*) >= 2
)
SELECT supp1, supp2, n_common, d1.d AS deg1, d2.d AS deg2,
  {synth.q6(jac)} AS jaccard
FROM common
JOIN deg d1 ON d1.s = supp1
JOIN deg d2 ON d2.s = supp2
ORDER BY {jac} DESC, supp1, supp2
LIMIT 100
"""


def _bip_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part↔supplier edge list, materialized once per session and
    shared by the bipartite, resource-allocation and BFS builders. Every
    consumer binds it into its query text with ``spark.sql(text, bip=…)``,
    so no view name is shared between concurrent builders."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return checkpointed(
        spark,
        "bip_edges",
        lambda: spark.sql(_BIP_EDGES_SQL, lineitem=lineitem).coalesce(8),
        sf_dir,
    )


@register(
    "graph_bipartite_jaccard",
    oracle=_bipartite_jaccard_sql("duckdb").format(lineitem="lineitem"),
    doc="Bipartite node similarity: supplier pairs projected through "
    "shared parts, Jaccard over part neighborhoods with degree evidence, "
    "top-100. Candidates from the per-part equi-join (fan-out bounded by "
    "suppliers-per-part — linear in edges, no |S|² product), degrees "
    "broadcast, top-k via TakeOrderedAndProject (REF-ANALOG; the node-"
    "similarity member of the graph family).",
    tags=("graph", "join", "agg"),
)
def graph_bipartite_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    bip = _bip_edges(spark, sf_dir)
    return spark.sql(
        _bipartite_jaccard_sql(
            "spark",
            edges_ref="SELECT p, s FROM {bip}",
            ecap_ref="SELECT p, s FROM {capped}",
        ),
        bip=bip,
        capped=_capped_edges(spark, bip),
    )


# ---------------------------------------------------------------------------
# graph_resource_alloc — weighted common-neighbor link prediction on the
# same part↔supplier bipartite graph: the Resource Allocation index
# (Zhou/Lü/Zhang 2009), RA(u,v) = Σ_{p ∈ Γ(u)∩Γ(v)} 1/deg(p). Rare shared
# parts carry more evidence than ubiquitous ones — the refinement Jaccard
# lacks. RA is chosen over the better-known Adamic-Adar (1/ln deg) because
# 1/d has an EXACT cross-engine form: the per-part micro-weight
# round(1e6/d) = floor((2e6+d)/(2d)) is one correctly-rounded IEEE
# division of exact integers (both operands < 2^53), so the double is
# bit-identical in Spark and DuckDB and the floor can never straddle —
# whereas ln() is libm-dependent in the last ulp. Weights are summed as
# BIGINT micro-units (order-free), divided once at the end.
# Scale shape: same bounded per-part candidate join as
# graph_bipartite_jaccard, including the _BIP_PART_CAP hot-part guard
# (one 20k-supplier part measured 38.3 s uncapped vs 3.7 s capped);
# the part-degree relation is |parts|-sized and broadcasts onto the pair
# stream; top-k via TakeOrderedAndProject.
# ---------------------------------------------------------------------------


def _resource_alloc_sql(
    dialect: str,
    edges_ref: str | None = None,
    ecap_ref: str | None = None,
) -> str:
    del dialect  # shared text
    # round(1e6/d) as floor((2e6+d)/(2d)): numerator/denominator are exact
    # doubles (< 2^53), IEEE division is correctly rounded in both engines,
    # and the true quotient is a rational with denominator 2d — its
    # distance from any integer is either 0 (exactly representable, so the
    # rounded result IS the integer) or ≥ 1/(2d) ≫ ulp, so floor() is
    # engine-independent by construction.
    w = (
        "CAST(floor((2000000e0 + CAST(pd.d AS DOUBLE)) / "
        "(2e0 * CAST(pd.d AS DOUBLE))) AS BIGINT)"
    )
    # r13: the part cap is applied to the EDGE LIST before the self-join
    # (ecap), not to the generated pairs — Catalyst's inner-join
    # reordering used to place the pdeg cap ABOVE the a×b join, so a hot
    # part exploded to C(d,2) candidate pairs and was filtered after the
    # fact (measured 49.9 s vs capped-first on the 6M-row hot-part
    # fixture; jaccard twin 29.8 s → 9.6 s). Capping either side is
    # equivalent to capping the pair (a.p = b.p implies the same pdeg
    # row), so the pair multiset is unchanged — proven by full-result
    # comparison on sf0.01/sf0.1 and the skew fixture. The pd.d <= cap
    # predicate stays on the weight join (redundant but harmless: it
    # documents the invariant and keeps the join 1:1).
    ecap = ecap_ref or (
        f"SELECT e.p, e.s FROM edges e "
        f"JOIN pdeg pd0 ON pd0.p = e.p AND pd0.d <= {_BIP_PART_CAP}"
    )
    return f"""
WITH edges AS (
  {edges_ref or _BIP_EDGES_SQL}
),
pdeg AS (
  SELECT p, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY p
),
ecap AS (
  {ecap}
),
pairs AS (
  SELECT a.s AS supp1, b.s AS supp2,
    CAST(count(*) AS BIGINT) AS n_common,
    CAST(sum({w}) AS BIGINT) AS ra_micro
  FROM ecap a
  JOIN ecap b ON a.p = b.p AND a.s < b.s
  JOIN pdeg pd ON pd.p = a.p AND pd.d <= {_BIP_PART_CAP}
  GROUP BY a.s, b.s
  HAVING count(*) >= 2
)
SELECT supp1, supp2, n_common,
  CAST(ra_micro AS DOUBLE) / 1e6 AS resource_alloc
FROM pairs
ORDER BY ra_micro DESC, supp1, supp2
LIMIT 100
"""


@register(
    "graph_resource_alloc",
    oracle=_resource_alloc_sql("duckdb").format(lineitem="lineitem"),
    doc="Weighted common-neighbor link prediction: Resource Allocation "
    "index Σ 1/deg(shared part) over supplier pairs, exact BIGINT "
    "micro-unit weights (round(1e6/d) in pure correctly-rounded "
    "arithmetic — no libm), top-100. Candidates from the bounded "
    "per-part equi-join, part degrees broadcast, top-k via "
    "TakeOrderedAndProject (REF-ANALOG; the weighted member of the "
    "graph similarity family).",
    tags=("graph", "join", "agg"),
)
def graph_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    bip = _bip_edges(spark, sf_dir)
    return spark.sql(
        _resource_alloc_sql(
            "spark",
            edges_ref="SELECT p, s FROM {bip}",
            ecap_ref="SELECT p, s FROM {capped}",
        ),
        bip=bip,
        capped=_capped_edges(spark, bip),
    )


def _capped_edges(spark: SparkSession, bip: DataFrame) -> DataFrame:
    """The edge list restricted to parts with degree <= _BIP_PART_CAP,
    behind a LAZY localCheckpoint. The checkpoint is the point: it is a
    physical barrier Catalyst's inner-join flattening cannot reorder
    across, so the hot-part cap provably prunes candidate GENERATION
    (before the per-part self-join explodes C(d,2) pairs) instead of
    filtering after it. Rebuilt per builder call — per-run work, nothing
    cached across invocations; the ContextCleaner frees the blocks once
    the consuming plan is unreachable."""
    return spark.sql(
        "SELECT e.p, e.s FROM {bip} e "
        "JOIN (SELECT p FROM {bip} GROUP BY p "
        f"HAVING count(*) <= {_BIP_PART_CAP}) c ON c.p = e.p",
        bip=bip,
    ).localCheckpoint(eager=False)

# ---------------------------------------------------------------------------
# graph_clustering_coeff — local clustering coefficient on the token
# co-occurrence graph: cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the
# Watts–Strogatz "how clique-like is v's neighborhood" statistic, plus the
# network-average clustering over all deg ≥ 2 nodes. Reuses
# graph_triangle_count's oriented edge list (same checkpointed relation,
# one corpus pass shared by both keys) and its two-hop triangle chain;
# degrees come from one explode+groupBy over the edge list.
# Determinism: T and deg are BIGINT; 2T and d(d−1) are exact int64; the
# coefficient is ONE IEEE division of exact integers (bit-identical both
# engines), q6-quantized on output. The network average is computed from
# per-node MICRO-quantized coefficients summed as BIGINT (order-free),
# divided once — never a float sum. Ranking ties break on (deg, token).
# Scale shape: the deg ≥ 2 summary is vocabulary-sized (sub-linear in the
# corpus); the single-partition OVER () runs over that summary only — the
# same bounded-summary class as graph_triangle_count's global total.
# Nodes in no triangle enter via LEFT JOIN with T=0 (they drag the network
# average down — dropping them is the classic inflation bug).
# ---------------------------------------------------------------------------


def _clustering_sql(dialect: str, edges_ref: str | None = None) -> str:
    nodes = (
        "SELECT explode(array(a, b, c)) AS node FROM tri"
        if dialect == "spark"
        else "SELECT unnest([a, b, c]) AS node FROM tri"
    )
    ends = (
        "SELECT explode(array(a, b)) AS node FROM edges"
        if dialect == "spark"
        else "SELECT unnest([a, b]) AS node FROM edges"
    )
    cc = "CAST(2 * n_tri AS DOUBLE) / CAST(deg * (deg - 1) AS DOUBLE)"
    cc_u = f"CAST(floor(({cc}) * 1e6 + 0.5e0) AS BIGINT)"
    return f"""
WITH edges AS ({edges_ref or _triangle_edges_sql(dialect)}),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM edges e1
  JOIN edges e2 ON e1.b = e2.a
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
member AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri
  FROM ({nodes}) u
  GROUP BY node
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg
  FROM ({ends}) g
  GROUP BY node
),
coeff AS (
  SELECT d.node, d.deg, coalesce(m.n_tri, CAST(0 AS BIGINT)) AS n_tri
  FROM deg d LEFT JOIN member m ON m.node = d.node
  WHERE d.deg >= 2
)
SELECT node AS token, deg, n_tri,
  {synth.q6(cc)} AS clustering,
  {synth.q6(f"CAST(sum({cc_u}) OVER () AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE) / 1e6")}
    AS avg_clustering
FROM coeff
ORDER BY {cc} DESC, deg DESC, node
LIMIT 20
"""


@register(
    "graph_clustering_coeff",
    oracle=_clustering_sql("duckdb").format(documents="documents"),
    doc="Local clustering coefficient per node (2T/(d(d-1))) on the token "
    "co-occurrence graph + exact network average over all deg>=2 nodes "
    "(micro-quantized BIGINT mean, zero-triangle nodes included via LEFT "
    "JOIN): top-20. Shares graph_triangle_count's checkpointed edge list "
    "and two-hop chain; degrees are one explode+groupBy; the OVER () runs "
    "on the vocabulary-sized summary only (REF-ANALOG; completes the "
    "triangle family with its density statistic).",
    tags=("graph", "iterative", "agg"),
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _clustering_sql("spark", edges_ref="SELECT a, b FROM {tri}"),
        tri=_tri_edges(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# graph_degree_distribution — the degree histogram of the token
# co-occurrence graph plus a power-law tail estimate: OLS of ln(n_nodes)
# on ln(deg) over the histogram points (slope ≈ −α, the log-log linear
# fit every "is this graph scale-free?" analysis starts with), with R².
# Reuses the shared checkpointed edge list; degrees are one
# explode+groupBy; the histogram and every regression sum are bounded by
# the number of DISTINCT degrees (≪ vocabulary ≪ corpus).
# Determinism: ln over exact BIGINTs is the PSI/perplexity precedent;
# every regression sum (Σx, Σy, Σxy, Σx², Σy²) is micro-quantized per
# term and summed as BIGINT (order-free), so the closed-form slope /
# intercept / R² are one fixed parse tree over exact integers. A
# single-distinct-degree graph yields a zero variance denominator →
# NULL slope via nullif (not a divide-by-zero).
# ---------------------------------------------------------------------------


def _degree_dist_sql(dialect: str, edges_ref: str | None = None) -> str:
    ends = (
        "SELECT explode(array(a, b)) AS node FROM edges"
        if dialect == "spark"
        else "SELECT unnest([a, b]) AS node FROM edges"
    )
    # ln values are ≤ ~44 for any int64 input; products ≤ ~2000 — micro
    # quantization bounds are generous and can never saturate.
    sx = synth.sum_micro_int("x", 1e3)
    sy = synth.sum_micro_int("y", 1e3)
    sxy = synth.sum_micro_int("x * y", 1e7)
    sxx = synth.sum_micro_int("x * x", 1e7)
    syy = synth.sum_micro_int("y * y", 1e7)
    # Closed-form OLS from the exact micro sums: slope = (n·Σxy − Σx·Σy)
    # / (n·Σxx − Σx²). Micro units: Σxy carries 1e6, Σx·Σy carries 1e12 —
    # rescale Σxy by 1e6 so both numerator terms share the 1e12 grid.
    # n ≤ distinct degrees (≪ 2^20) and |su| ≤ ~2e13 ⇒ n·su ≤ 2e19
    # overflows int64! Compute in DOUBLE: every operand is an exact
    # integer ≤ 2^53, products up to ~2e19 lose ulp-level bits BUT do so
    # identically in both engines (same parse tree, same doubles in).
    nn = "CAST(n_points AS DOUBLE)"
    num = f"({nn} * (CAST(sxy_u AS DOUBLE) * 1e6) - CAST(sx_u AS DOUBLE) * CAST(sy_u AS DOUBLE))"
    den = f"({nn} * (CAST(sxx_u AS DOUBLE) * 1e6) - CAST(sx_u AS DOUBLE) * CAST(sx_u AS DOUBLE))"
    deny = f"({nn} * (CAST(syy_u AS DOUBLE) * 1e6) - CAST(sy_u AS DOUBLE) * CAST(sy_u AS DOUBLE))"
    slope = f"{num} / nullif({den}, 0e0)"
    intercept = f"(CAST(sy_u AS DOUBLE) - ({slope}) * CAST(sx_u AS DOUBLE)) / ({nn} * 1e6)"
    r2 = f"({num} * {num}) / nullif({den} * {deny}, 0e0)"
    return f"""
WITH edges AS ({edges_ref or _triangle_edges_sql(dialect)}),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg
  FROM ({ends}) g
  GROUP BY node
),
hist AS (
  SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg GROUP BY deg
),
pts AS (
  SELECT ln(CAST(deg AS DOUBLE)) AS x, ln(CAST(n_nodes AS DOUBLE)) AS y,
    deg, n_nodes
  FROM hist
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_points,
    CAST(sum(n_nodes) AS BIGINT) AS n_nodes_total,
    max(deg) AS max_degree,
    {sx} AS sx_u, {sy} AS sy_u, {sxy} AS sxy_u,
    {sxx} AS sxx_u, {syy} AS syy_u
  FROM pts
)
SELECT n_points, n_nodes_total, max_degree,
  {synth.q6(slope)} AS slope,
  {synth.q6(intercept)} AS intercept,
  {synth.q6(r2)} AS r2
FROM agg
"""


@register(
    "graph_degree_distribution",
    oracle=_degree_dist_sql("duckdb").format(documents="documents"),
    doc="Degree distribution + power-law tail fit: histogram of node "
    "degrees over the shared checkpointed edge list, log-log OLS "
    "(slope ~ -alpha, intercept, R^2) from per-term micro-quantized "
    "BIGINT regression sums — everything after the degree groupBy is "
    "bounded by the number of distinct degrees (REF-ANALOG; the "
    "scale-free diagnostic of the graph family).",
    tags=("graph", "agg", "stats"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _degree_dist_sql("spark", edges_ref="SELECT a, b FROM {tri}"),
        tri=_tri_edges(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# iter_als_rank2 — distributed recommender training: one full alternating-
# least-squares round (user step, then item step) at rank 2 over the
# customer × part rating matrix (rating = line quantity), plus training
# RMSE. The workload Spark's MLlib was built around, expressed relationally:
# each half-step is ONE equi-join (ratings ⋈ current factors) and ONE
# groupBy building the per-entity normal equations — never a materialized
# user × item product.
# Exactness: every normal-equation sum (Σq², Σq₁q₂, Σr·q, …) is quantized
# to BIGINT micro-units per term and summed exactly (the gd_logreg
# all-reduce discipline), so the 2×2 system is built from identical
# doubles in both engines; the Cramer solve is one fixed parse tree —
# det(QᵀQ + λI) ≥ λ² > 0, so no divide-by-zero guard is needed, by
# construction; factors are q6-quantized before reuse (the weights
# discipline). Item factors init from the deterministic LCG.
# Scale: ratings are checkpointed once (referenced by init/user/item/RMSE
# — the O(steps²) CTE-inlining trap of iter_gd_logreg); user factors are
# materialized between the half-steps; both half-step shuffles are keyed
# on the entity id, factor relations are entity-sized.
# ---------------------------------------------------------------------------

_ALS_LAMBDA = "0.1e0"

_ALS_RATINGS_SQL = """
SELECT o.o_custkey AS u, l.l_partkey AS i,
  CAST(l.l_quantity AS DOUBLE) AS rt
FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey
"""


def _als_q0(r_ref: str) -> str:
    """Deterministic rank-2 item-factor init over the distinct item set."""
    q2 = synth.lcg_u("di.i", 9091, 0)
    return f"SELECT di.i, 1e0 AS f1, {q2} AS f2 FROM (SELECT DISTINCT i FROM ({r_ref}) r0) di"


def _als_solve(sums_rel: str, key: str) -> str:
    """Cramer solve of (A + λI) x = b from the micro-exact sums relation
    (key, a11_u, a12_u, a22_u, b1_u, b2_u)."""
    lam = _ALS_LAMBDA
    a11 = f"(CAST(a11_u AS DOUBLE) / 1e6 + {lam})"
    a12 = "(CAST(a12_u AS DOUBLE) / 1e6)"
    a22 = f"(CAST(a22_u AS DOUBLE) / 1e6 + {lam})"
    b1 = "(CAST(b1_u AS DOUBLE) / 1e6)"
    b2 = "(CAST(b2_u AS DOUBLE) / 1e6)"
    det = f"({a11} * {a22} - {a12} * {a12})"
    return f"""
SELECT {key},
  {synth.q6(f"({b1} * {a22} - {b2} * {a12}) / {det}")} AS f1,
  {synth.q6(f"({b2} * {a11} - {b1} * {a12}) / {det}")} AS f2
FROM ({sums_rel}) s
"""


def _als_sums(r_ref: str, fac_ref: str, group: str, join_key: str) -> str:
    """Per-entity normal-equation sums: factors of the OTHER side joined
    onto the ratings, every sum BIGINT-micro-exact (|terms| ≤ ~100)."""
    return f"""
SELECT r.{group},
  {synth.sum_micro_int('f.f1 * f.f1', 1e4)} AS a11_u,
  {synth.sum_micro_int('f.f1 * f.f2', 1e4)} AS a12_u,
  {synth.sum_micro_int('f.f2 * f.f2', 1e4)} AS a22_u,
  {synth.sum_micro_int('r.rt * f.f1', 1e5)} AS b1_u,
  {synth.sum_micro_int('r.rt * f.f2', 1e5)} AS b2_u
FROM ({r_ref}) r JOIN ({fac_ref}) f ON f.{join_key} = r.{join_key}
GROUP BY r.{group}
"""


def _als_user_step_sql(r_ref: str) -> str:
    """User factors after solving against the LCG-initialized items."""
    return _als_solve(
        _als_sums(r_ref, _als_q0(r_ref), "u", "i"), "s.u AS u"
    )


def _als_final_sql(r_ref: str, p_ref: str | None = None) -> str:
    p = p_ref or f"({_als_user_step_sql(r_ref)})"
    qn = _als_solve(_als_sums(r_ref, p, "i", "u"), "s.i AS i")
    err = "(r.rt - (p.f1 * q.f1 + p.f2 * q.f2))"
    return f"""
WITH qn AS ({qn})
SELECT {_ALS_LAMBDA} AS lambda,
  CAST(count(*) AS BIGINT) AS n_ratings,
  CAST(count(DISTINCT r.u) AS BIGINT) AS n_users,
  CAST(count(DISTINCT r.i) AS BIGINT) AS n_items,
  {synth.q6(
      f"sqrt(({synth.sum_micro(f'{err} * {err}', 1e7)})"
      " / CAST(nullif(count(*), 0) AS DOUBLE))"
  )} AS rmse
FROM ({r_ref}) r
JOIN ({p}) p ON p.u = r.u
JOIN qn q ON q.i = r.i
"""


@register(
    "iter_als_rank2",
    oracle=_als_final_sql(_ALS_RATINGS_SQL).format(
        lineitem="lineitem", orders="orders"
    ),
    doc="Alternating least squares at rank 2 (customer x part, rating = "
    "quantity): one user step + one item step, each a single equi-join "
    "+ groupBy building BIGINT-micro-exact normal equations, closed-form "
    "Cramer solve (det >= lambda^2 > 0 by construction), factors q6'd "
    "before reuse, training RMSE micro-exact. Ratings checkpointed once, "
    "user factors materialized between half-steps (REF-ANALOG; the "
    "recommender-training member of the iterative family beside "
    "gd_logreg/kmeans/pagerank).",
    tags=("iterative", "ml", "join"),
)
def iter_als_rank2(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    r = checkpointed(
        spark, "als_r",
        lambda: spark.sql(
            _ALS_RATINGS_SQL, lineitem=lineitem, orders=orders
        ).coalesce(8),
        sf_dir,
    )
    r_ref = "SELECT u, i, rt FROM {r}"
    p = checkpointed(
        spark, "als_p",
        lambda: spark.sql(_als_user_step_sql(r_ref), r=r).coalesce(4),
        sf_dir,
    )
    return spark.sql(
        _als_final_sql(r_ref, p_ref="SELECT u, f1, f2 FROM {p}"), r=r, p=p
    )


# ---------------------------------------------------------------------------
# iter_bfs_sssp — multi-source BFS / unweighted shortest path (r8, VERDICT
# r7 item 4): the frontier-expansion traversal the iterative family lacked
# (pagerank/cc/kcore/triangle/ALS are all fixed-round relational updates;
# this is the level-synchronous propagation GraphFrames users hit first).
# Graph: the shared part–supplier bipartite edge list (bip_edges — the
# same checkpoint graph_bipartite_jaccard / graph_resource_alloc read),
# node-encoded supplier s → 2s, part p → 2p+1 in pure BIGINT. Sources:
# every supplier in the nation-0/5/10/15/20 group ("distance to the
# nearest distribution-center region"). Each round is ONE dst-keyed
# equi-join of the frontier against the undirected edge list plus ONE
# anti-join against the visited set — never a cartesian product, never a
# per-node loop; the Spark side is the kcore/pagerank driver loop with a
# localCheckpoint per round, the DuckDB oracle the same rounds unrolled as
# MATERIALIZED CTEs. 4 rounds: the expander saturates at dist 3 on every
# driver sf (measured), so round 4 pins the empty-frontier fixpoint.
# Output: per-distance node count + exact modular membership checksum
# (sum of node % 1000003 — order-free BIGINT), plus the unreached row
# (dist = -1) — schema-stable, corpus-size-independent.
# Scale: the duplicated-lineitem ladder leaves the DISTINCT edge list
# unchanged (duplication-invariant like the jaccard/RA pair); frontier
# size is bounded by the node set, every shuffle key is a node id.
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 4
_BFS_P = 1_000_003
_BFS_UND_SQL = """
  SELECT 2 * s AS src, 2 * p + 1 AS dst FROM bip
  UNION ALL
  SELECT 2 * p + 1 AS src, 2 * s AS dst FROM bip
"""
_BFS_SEEDS_SQL = (
    "SELECT DISTINCT 2 * s_suppkey AS node FROM {supplier} "
    "WHERE s_nationkey % 5 = 0"
)


def _bfs_summary(rel: str, dist: str) -> str:
    return (
        f"SELECT CAST({dist} AS BIGINT) AS dist, "
        f"CAST(count(*) AS BIGINT) AS n_nodes, "
        f"CAST(coalesce(sum(node % {_BFS_P}), 0) AS BIGINT) AS node_check "
        f"FROM {rel}"
    )


def _bfs_oracle_sql() -> str:
    parts = [
        f"""
WITH bip AS MATERIALIZED ({_BIP_EDGES_SQL}),
und AS MATERIALIZED ({_BFS_UND_SQL}),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM und),
f0 AS MATERIALIZED ({_BFS_SEEDS_SQL}),
v0 AS MATERIALIZED (SELECT node FROM f0)"""
    ]
    for r in range(1, _BFS_ROUNDS + 1):
        parts.append(
            f""",
f{r} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node
  FROM und e JOIN f{r - 1} fr ON e.src = fr.node
  WHERE NOT EXISTS (SELECT 1 FROM v{r - 1} v WHERE v.node = e.dst)
),
v{r} AS MATERIALIZED (
  SELECT node FROM v{r - 1} UNION SELECT node FROM f{r}
)"""
        )
    summaries = "\n  UNION ALL\n  ".join(
        _bfs_summary(f"f{r}", r) for r in range(_BFS_ROUNDS + 1)
    )
    unreached = _bfs_summary(
        f"(SELECT n.node FROM nodes n WHERE NOT EXISTS "
        f"(SELECT 1 FROM v{_BFS_ROUNDS} v WHERE v.node = n.node)) ur",
        -1,
    )
    return "".join(parts) + f"""
SELECT dist, n_nodes, node_check FROM (
  {summaries}
  UNION ALL
  {unreached}
) s
ORDER BY dist
"""


def _bfs_expand(und: DataFrame, frontier: DataFrame, visited: DataFrame):
    """One level-synchronous BFS round: neighbors of the frontier via the
    src-keyed equi-join, minus the visited set via an anti-join — the
    per-round plan the test pins (shuffle/broadcast equi-joins only)."""
    import pyspark.sql.functions as F

    return (
        und.join(frontier, und["src"] == frontier["node"])
        .select(F.col("dst").alias("node"))
        .distinct()
        .join(visited, "node", "left_anti")
    )


@register(
    "iter_bfs_sssp",
    oracle=_bfs_oracle_sql().format(lineitem="lineitem", supplier="supplier"),
    doc="Multi-source BFS / unweighted shortest path over the shared "
    "part–supplier bipartite graph (bip_edges checkpoint; supplier 2s / "
    "part 2p+1 node encoding): sources are the nation-0/5/10/15/20 "
    "suppliers, 4 level-synchronous rounds — each ONE frontier equi-join "
    "+ ONE visited anti-join, localCheckpoint per round (the "
    "kcore/pagerank driver-loop discipline) — vs the same rounds unrolled "
    "as MATERIALIZED CTEs in DuckDB. Emits per-distance node counts with "
    "exact modular membership checksums plus the unreached row "
    "(REF-ANALOG; the frontier-expansion member of the iterative graph "
    "family).",
    tags=("iterative", "graph", "join"),
)
def iter_bfs_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    und = spark.sql(
        "WITH bip AS (SELECT p, s FROM {bip}) " + _BFS_UND_SQL,
        bip=_bip_edges(spark, sf_dir),
    ).localCheckpoint(eager=True)
    nodes = und.select(F.col("src").alias("node")).distinct()
    frontier = spark.sql(
        _BFS_SEEDS_SQL, supplier=load_table(spark, sf_dir, "supplier")
    ).localCheckpoint(eager=True)
    visited = frontier
    levels = [(0, frontier)]
    for r in range(1, _BFS_ROUNDS + 1):
        frontier = _bfs_expand(und, frontier, visited).localCheckpoint(
            eager=True
        )
        # visited is a union of ALREADY-checkpointed frontiers: its plan
        # stays O(rounds) shallow and every leg is materialized, so its own
        # eager checkpoint was one redundant full pass + copy per round
        # (4 eager jobs dropped, r13; the frontier checkpoint — the one
        # that actually bounds lineage — stays).
        visited = visited.unionAll(frontier)
        levels.append((r, frontier))
    levels.append((-1, nodes.join(visited, "node", "left_anti")))

    def summary(dist: int, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(dist).cast("bigint").alias("dist"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.coalesce(F.sum(F.col("node") % _BFS_P), F.lit(0))
            .cast("bigint")
            .alias("node_check"),
        )

    dfs = [summary(d, df) for d, df in levels]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionAll(d)
    return out.orderBy("dist")
