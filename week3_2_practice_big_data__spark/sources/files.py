"""File-format source connectors beyond parquet (SURVEY.md §2.1-A).

The reference performs no file IO at all (SURVEY §2.1-A: `src_parquet_scan`
is already REF-ANALOG); CSV and JSON line up the remaining formats a user of
a general engine expects. Each key is a write→read-back round trip through
the repo-local `.tmp` scratch, proving BOTH directions of the connector, and
the read-back result is oracle-checked against the original parquet table —
a corruption anywhere in the trip breaks the value hash.

Scale notes (100 TB):
- Explicit schemas on read, always: `inferSchema`/JSON schema inference is a
  full extra pass over the data before the real scan even starts.
- CSV/JSON are row-oriented and splittable (uncompressed/bzip2) but carry no
  column pruning or predicate pushdown — the engine treats them as ingest
  formats: land → convert to parquet (`sink_partitioned_write`) → query
  columnar. The round trip here is exactly that landing pattern.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..common import build_once
from ..common import dec as _dec
from ..common import scratch_dir
from ..io import load_table
from ..registry import register


def _scratch(sf_dir: str, name: str) -> str:
    return scratch_dir(sf_dir, name)


_CSV_ORACLE = """
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
ORDER BY n_nationkey
"""


@register(
    "src_csv_roundtrip",
    oracle=_CSV_ORACLE,
    doc="CSV sink + source round trip (header, explicit schema — no "
    "inferSchema pass) joined back to a parquet dim (REF-ANALOG source).",
    tags=("source", "sink"),
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "csvsrc")
    load_table(spark, sf_dir, "nation").write.mode("overwrite").option(
        "header", True
    ).csv(out)
    back = (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", True)
        .csv(out)
    )
    region = load_table(spark, sf_dir, "region")
    return (
        back.join(F.broadcast(region), back.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")
    )


_JSON_ORACLE = """
SELECT o_orderstatus,
  COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@register(
    "src_json_roundtrip",
    oracle=_JSON_ORACLE,
    doc="JSON-lines sink + source round trip with explicit schema; doubles "
    "survive via shortest-roundtrip repr (REF-ANALOG source).",
    tags=("source", "sink"),
)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "jsonsrc")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).write.mode("overwrite").json(out)
    back = spark.read.schema(
        "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"
    ).json(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


_ORC_ORACLE = """
SELECT p_brand,
  COUNT(*) AS n_parts,
  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM part GROUP BY p_brand ORDER BY p_brand
"""


@register(
    "src_orc_roundtrip",
    oracle=_ORC_ORACLE,
    doc="ORC sink + source round trip (Spark-native columnar format #2 "
    "beside parquet; schema travels in the file) aggregated back against "
    "the parquet original's oracle (REF-ANALOG source).",
    tags=("source", "sink"),
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "orcsrc")
    load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    ).write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(_dec("p_retailprice")).cast("double").alias("sum_price"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# src_csv_malformed — ingestion robustness: a landing CSV with deliberately
# corrupt rows (wrong arity, unparseable numbers) read under PERMISSIVE
# mode with a _corrupt_record rescue column — the production answer to
# dirty feeds (quarantine bad rows, never fail the job, never silently
# drop). Output: per-outcome counts plus the aggregate over clean rows.
# The corrupt rows are deterministic, so the rows-only check is stable;
# cross-engine CSV error semantics differ (DuckDB skips, Spark rescues),
# hence no value-hash oracle — pytest pins both counts.
# ---------------------------------------------------------------------------

_CSV_BAD_EVERY = 50  # every 50th row is written corrupt

# Batch oracle (r5): cross-engine CSV *parsing* semantics still differ
# (DuckDB skips malformed rows, Spark rescues them), but the feed and
# its corruption pattern are DETERMINISTIC functions of the orders
# table — row i of the first 1000 orders by o_orderkey is corrupt iff
# i % 50 = 7 — so the quarantine counts and the clean-row aggregate are
# plain SQL over orders, no CSV reading needed on the oracle side. The
# DECIMAL(18,2) sum mirrors the Spark side's exact-decimal accumulation.
_CSV_MALFORMED_ORACLE = f"""
WITH feed AS (
  SELECT o_totalprice,
    row_number() OVER (ORDER BY o_orderkey) - 1 AS i
  FROM orders ORDER BY o_orderkey LIMIT 1000
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(coalesce(sum(CASE WHEN i % {_CSV_BAD_EVERY} = 7 THEN 1 ELSE 0 END),
    0) AS BIGINT) AS n_quarantined,
  CAST(coalesce(sum(CASE WHEN i % {_CSV_BAD_EVERY} <> 7 THEN 1 ELSE 0 END),
    0) AS BIGINT) AS n_clean,
  round(CAST(sum(CASE WHEN i % {_CSV_BAD_EVERY} <> 7
    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 2)
    AS clean_total_price
FROM feed
"""


@register(
    "src_csv_malformed",
    oracle=_CSV_MALFORMED_ORACLE,
    doc="PERMISSIVE CSV ingestion with _corrupt_record rescue: a landing "
    "file with deterministic corrupt rows (wrong arity / bad numerics) is "
    "read without failing; output counts clean vs quarantined rows and "
    "aggregates only the clean ones, hash-checked against the "
    "deterministic corruption pattern over orders — the dirty-feed "
    "landing pattern (REF-ANALOG; sibling of src_csv_roundtrip's clean "
    "path).",
    tags=("source", "quality"),
)
def src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import csv

    def build(tmp: str) -> None:
        rows = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .orderBy("o_orderkey")
            .limit(1000)
            .collect()
        )
        with open(os.path.join(tmp, "orders_feed.csv"), "w", newline="") as f:
            w = csv.writer(f)
            for i, r in enumerate(rows):
                if i % _CSV_BAD_EVERY == 7:
                    f.write(f"{r['o_orderkey']},oops-not-a-number\n")  # bad arity+type
                else:
                    w.writerow([r["o_orderkey"], r["o_custkey"], r["o_totalprice"]])

    out = build_once(_scratch(sf_dir, "csv_malformed"), build)

    df = (
        spark.read.schema(
            "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, "
            "_corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(os.path.join(out, "orders_feed.csv"))
        # Spark disallows filtering on ONLY the rescue column of a raw CSV
        # scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN); materializing the parsed
        # relation first is the documented remedy.
        .localCheckpoint(eager=True)
    )
    clean = df.filter(F.col("_corrupt_record").isNull())
    return df.select(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt_record").alias("n_quarantined"),
    ).crossJoin(
        clean.select(
            F.count(F.lit(1)).alias("n_clean"),
            F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias(
                "clean_total_price"
            ),
        )
    )


_TEXT_ORACLE = """
SELECT count(*) AS n_lines,
  CAST(sum(length(text)) AS BIGINT) AS n_chars,
  min(length(text)) AS min_len,
  max(length(text)) AS max_len
FROM documents
"""


@register(
    "src_text_lines",
    oracle=_TEXT_ORACLE,
    doc="Line-oriented text source (spark.read.text) — the rawest LLM "
    "corpus ingest format: documents written one per line, read back as "
    "untyped lines; the oracle recomputes the same length statistics from "
    "the original table, proving the round trip is content-preserving "
    "(REF-ANALOG source; completes the parquet/csv/json/orc/binary/text "
    "family).",
    tags=("source", "sink", "ns"),
)
def src_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "textsrc")
    # one document per line; texts contain no newlines (corpus invariant)
    load_table(spark, sf_dir, "documents").select("text").orderBy(
        "doc_id"
    ).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.select(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("n_chars"),
        F.min(F.length("value")).alias("min_len"),
        F.max(F.length("value")).alias("max_len"),
    )


# ---------------------------------------------------------------------------
# sink_compact_small_files — the small-files compaction pass, THE classic
# 100 TB operational problem: streaming/partitioned ingest leaves thousands
# of KB-sized parquet files whose per-file open/footer cost dominates every
# downstream scan. The fix is a rewrite pass: read the fragmented layout,
# coalesce(N) — NO shuffle, each output task concatenates ~K/N input files
# — and write the compacted layout. The checked output is a read-back
# aggregate over the COMPACTED files (row count, distinct users, exact
# micro-unit value sum), which the oracle computes straight from the
# source table: compaction must be a pure layout change, bit-invisible in
# the data. File counts (64 → 4) are pinned by pytest, not the oracle —
# the filesystem is outside DuckDB's view.
# ---------------------------------------------------------------------------

_COMPACT_FRAGMENTS = 64
# Floor on the compacted file count. Production compaction targets a file
# SIZE, not a count — the actual target is derived from the input volume
# (max(floor, rows/_COMPACT_ROWS_PER_FILE)) so output files stay bounded
# (~the 128 MB convention) and the write keeps its parallelism at any
# scale; a fixed count would serialize the 100× rewrite onto 4 tasks.
_COMPACT_TARGET = 4
_COMPACT_ROWS_PER_FILE = 2_000_000


def _compact_oracle() -> str:
    from .. import synth

    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  {synth.sum_micro("value", 1e9)} AS sum_value
FROM events
"""


def compact_paths(sf_dir: str) -> tuple[str, str]:
    """(fragmented_dir, compacted_dir) scratch locations for this sf."""
    return (
        _scratch(sf_dir, "fragments"),
        _scratch(sf_dir, "compacted"),
    )


@register(
    "sink_compact_small_files",
    oracle=_compact_oracle(),
    doc="Small-files compaction: a 64-fragment parquet layout is rewritten "
    "to max(4, rows/2M) files via coalesce (no shuffle — each output task "
    "concatenates fragments; the size-derived target keeps output files "
    "~128 MB-bounded and the write parallel at any scale); the checked "
    "read-back aggregate over the COMPACTED files equals the oracle "
    "computed from the source table, proving the pass is a pure layout "
    "change. File counts pinned by pytest "
    "(REF-ANALOG sink; sibling of sink_partitioned_write).",
    tags=("sink", "scale"),
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import synth

    frag, compact = compact_paths(sf_dir)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    n_rows = ev.count()
    target = max(_COMPACT_TARGET, -(-n_rows // _COMPACT_ROWS_PER_FILE))
    ev.repartition(_COMPACT_FRAGMENTS).write.mode("overwrite").parquet(frag)
    spark.read.schema(ev.schema).parquet(frag).coalesce(
        target
    ).write.mode("overwrite").parquet(compact)
    back = spark.read.schema(ev.schema).parquet(compact)
    return spark.sql(
        _compact_oracle().replace("FROM events", "FROM {events}"), events=back
    )


# ---------------------------------------------------------------------------
# src_schema_evolution — mergeSchema read over an EVOLVING parquet layout:
# generation 1 landed (o_orderkey, o_custkey), generation 2 added
# o_totalprice. A fleet that rewrites history on every schema change does
# not exist at 100 TB — the reader must reconcile: read both generations
# with mergeSchema=true (schemas unioned from file footers; by default
# Spark trusts the single footer-schema and would silently DROP the new
# column when it samples a v1 file), missing columns surface as NULL. The
# checked aggregate (rows, priced rows, exact-decimal price sum) matches
# the oracle's CASE-reconstructed view of the same split.
# ---------------------------------------------------------------------------

_EVOLVE_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(o_totalprice) AS BIGINT) AS n_priced,
  CAST(coalesce(sum(CAST(coalesce(o_totalprice, 0) AS DECIMAL(18,2))), 0) AS DOUBLE)
    AS sum_priced
FROM (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END AS o_totalprice
  FROM orders
) evolved
"""


@register(
    "src_schema_evolution",
    oracle=_EVOLVE_ORACLE,
    doc="Schema-evolution read: two parquet generations (v2 adds a "
    "column) unioned with mergeSchema=true, v1 rows surfacing NULL for "
    "the new column; aggregate oracle-checked against a CASE-"
    "reconstructed view of the source (REF-ANALOG source; sibling of "
    "src_csv_malformed for the landing-zone-reality family).",
    tags=("source", "scale"),
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "evolve")
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v1.write.mode("overwrite").parquet(os.path.join(out, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(out, "gen=2"))
    back = (
        spark.read.option("mergeSchema", True)
        .parquet(os.path.join(out, "gen=1"), os.path.join(out, "gen=2"))
    )
    return spark.sql("""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(o_totalprice) AS BIGINT) AS n_priced,
  CAST(coalesce(sum(CAST(coalesce(o_totalprice, 0) AS DECIMAL(18,2))), 0) AS DOUBLE)
    AS sum_priced
FROM {orders}
""", orders=back)


_XML_ORACLE = """
SELECT s_nationkey,
  COUNT(*) AS n_sup,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
  COUNT(*) AS n_esc_ok
FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
"""


@register(
    "src_xml_roundtrip",
    oracle=_XML_ORACLE,
    doc="Native XML sink + source round trip (Spark 4 built-in `xml` "
    "format, rowTag/explicit schema — no inference pass): supplier rows "
    "travel as XML elements with money as DECIMAL(18,2) (decimal→text→"
    "decimal is exact where double→text could drift), plus a crafted "
    "column containing `<`, `&` and `\"` proving entity escaping "
    "round-trips; n_esc_ok counts rows whose marker survived byte-exact "
    "(= COUNT(*) in the oracle). REF-ANALOG source family sibling of "
    "src_csv/json/orc_roundtrip.",
    tags=("source", "sink"),
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "xmlsrc")
    sup = load_table(spark, sf_dir, "supplier")
    (
        sup.select(
            "s_suppkey",
            "s_name",
            "s_nationkey",
            F.col("s_acctbal").cast("decimal(18,2)").alias("s_acctbal"),
            F.concat(F.lit('<&"'), F.col("s_name")).alias("x_esc"),
        )
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "sup")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "sup")
        .schema(
            "s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, "
            "s_acctbal DECIMAL(18,2), x_esc STRING"
        )
        .load(out)
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_sup"),
            F.sum("s_acctbal").cast("double").alias("sum_bal"),
            F.sum(
                F.when(
                    F.col("x_esc") == F.concat(F.lit('<&"'), F.col("s_name")),
                    1,
                ).otherwise(0)
            ).alias("n_esc_ok"),
        )
        .orderBy("s_nationkey")
    )


# ---------------------------------------------------------------------------
# src_file_metadata — the hidden _metadata file column (Spark 3.5+/4):
# per-row file provenance (file_path, row_index) a 100 TB lineage or
# debugging pass relies on (the modern replacement for
# input_file_name()). Two single-partition files are written in a KNOWN
# order (sorted by key within each parity class), so the physical
# row_index is derivable relationally: row_number within the file − 1.
# The file NAME is uuid-suffixed by the writer — only its stable
# 'part-NNNNN' prefix is projected.
# ---------------------------------------------------------------------------

# Per-file BOUNDED summary with an order-sensitive checksum: chk folds
# every row's (key, row_index) pair, so one transposed index anywhere in
# a 150 M-row file breaks the hash — without shipping 150 M provenance
# rows through a global sort (the first cut did, and the 100× ladder
# measured the 45× cliff that bought). Modular factors keep the int64
# sum overflow-free: n · 1e6 · 998 ≤ 1.5e17 at 100× (bound documented).
_FILEMETA_CHK = (
    "(o_orderkey % 1000003) * ((rix % 997) + 1)"
)

_FILEMETA_ORACLE = f"""
WITH pos AS (
  SELECT o_orderkey,
    CAST(o_orderkey % 2 AS BIGINT) AS parity,
    CAST(row_number() OVER (
      PARTITION BY o_orderkey % 2 ORDER BY o_orderkey
    ) - 1 AS BIGINT) AS rix
  FROM orders
)
SELECT parity,
  'part-00000' AS part_prefix,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(max(rix) AS BIGINT) AS max_rix,
  CAST(sum({_FILEMETA_CHK}) AS BIGINT) AS chk
FROM pos GROUP BY parity ORDER BY parity
"""


@register(
    "src_file_metadata",
    oracle=_FILEMETA_ORACLE,
    doc="_metadata hidden file column: orders split into two "
    "single-partition parquet files (one per key parity, each written "
    "sorted by key — a build_once fixture), read back with "
    "_metadata.row_index + _metadata.file_path. The per-file summary "
    "carries an order-sensitive (key × row_index) checksum, so every "
    "physical position is pinned against the relational write-rank "
    "derivation while the output stays file-bounded — no data-sized "
    "provenance relation crosses the driver (the 100 TB posture; "
    "per-row density is additionally pytest-pinned at sf0.001). The "
    "_metadata columns are populated by the scan itself, never a join.",
    tags=("source", "scale"),
)
def src_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "filemeta")

    def build(tmp: str) -> None:
        # The known-order fixture is a FIXTURE: built once per sf (the
        # single-partition sorted write is the price of a provably
        # derivable row_index, not part of the measured read path — the
        # _metadata columns themselves are scan-populated and free).
        orders = load_table(spark, sf_dir, "orders")
        for parity in (0, 1):
            (
                orders.filter(F.col("o_orderkey") % 2 == parity)
                .select("o_orderkey")
                .orderBy("o_orderkey")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(tmp, f"parity={parity}"))
            )

    build_once(out, build, stamp="parity2,sorted,v1")
    back = spark.read.parquet(
        os.path.join(out, "parity=0"), os.path.join(out, "parity=1")
    )
    pos = back.select(
        "o_orderkey",
        (F.col("o_orderkey") % 2).cast("bigint").alias("parity"),
        F.col("_metadata.row_index").cast("bigint").alias("rix"),
        F.regexp_extract(
            F.col("_metadata.file_path"), r"(part-\d{5})", 1
        ).alias("part_prefix"),
    )
    return (
        pos.groupBy("parity", "part_prefix")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("rix").alias("max_rix"),
            F.sum(F.expr(_FILEMETA_CHK)).alias("chk"),
        )
        .orderBy("parity")
    )


_ARROW_RT_ORACLE = """
SELECT s_nationkey,
  COUNT(*) AS n_sup,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
"""


@register(
    "src_arrow_roundtrip",
    oracle=_ARROW_RT_ORACLE,
    doc="df.toArrow() → spark.createDataFrame(pyarrow.Table) round trip "
    "(Spark 4): the public Arrow interchange surface — a BOUNDED "
    "per-nation rollup exported as an Arrow table on the driver and "
    "re-ingested, hash-pinned against the relational oracle (types and "
    "values must survive both hops). Driver-bounded BY CONTRACT: "
    "toArrow materializes on the driver, so the engine only offers it "
    "downstream of a domain-bounded aggregation — the 100 TB analogue "
    "is toArrow on the final summary, never on a fact table.",
    tags=("source", "sink"),
)
def src_arrow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    summ = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_sup"),
            F.sum(_dec("s_acctbal")).cast("double").alias("sum_bal"),
        )
    )
    pa_table = summ.toArrow()
    back = spark.createDataFrame(pa_table)
    return back.orderBy("s_nationkey")
