"""SQL-semantics scalar/aggregate surface, round-2 extensions (REF-ANALOG).

The reference has no nulls, no maps, no JSON and no URLs (SURVEY.md §1.1
"Not present"); these keys pin the semantics a relational user relies on
daily — ANSI three-valued logic, map-typed columns, semi-structured VARIANT
access (Spark 4's headline type), URL decomposition, edit-distance fuzzy
matching, and deterministic ordered string aggregation — each checked
bit-exact against DuckDB.

Scale notes (100 TB):
- `fn_string_similarity` blocks the pair join on the distinct-name noun
  (vocabulary-bounded) before computing levenshtein — never an all-pairs
  edit-distance pass over rows.
- `agg_string_listagg` aggregates bounded groups (dimension-sized); an
  unbounded listagg over a fact table is an anti-pattern (one cell grows
  with the data) and is deliberately not offered.
- Everything else is a pure map-side projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import synth
from ..common import ordered_string_agg
from ..io import load_table
from ..registry import register
from ..session import scoped_confs


# ---------------------------------------------------------------------------
# fn_null_semantics — coalesce / nullif / plain vs null-safe equality.
# Dialect seam: Spark spells null-safe equality `<=>`, DuckDB
# `IS NOT DISTINCT FROM`; everything else is shared text.
# ---------------------------------------------------------------------------


def _null_semantics_sql(dialect: str) -> str:
    nse = "a <=> b" if dialect == "spark" else "a IS NOT DISTINCT FROM b"
    # Checked outputs are deliberately null-free (coalesced / CASE-encoded):
    # engines and dataframe bridges represent NULL cells differently
    # (None vs NaN vs masked), which would turn a representation detail into
    # a value-hash mismatch. The NULLs still flow through every compared
    # expression inside the query.
    return f"""
SELECT c_custkey,
  coalesce(a, -99) AS a_filled,
  coalesce(b, -99) AS b_filled,
  coalesce(a, b, -1) AS first_non_null,
  CASE WHEN (a = b) IS NULL THEN 'unknown'
       WHEN (a = b) THEN 'true' ELSE 'false' END AS plain_eq_3vl,
  ({nse}) AS null_safe_eq,
  CASE WHEN a IS NULL THEN 'null' ELSE 'set' END AS a_state
FROM (
  SELECT c_custkey,
    nullif(c_nationkey % 5, 0) AS a,
    nullif(CAST(c_custkey % 5 AS INT), 0) AS b
  FROM {{customer}}) t
ORDER BY c_custkey
"""


@register(
    "fn_null_semantics",
    oracle=_null_semantics_sql("duckdb").format(customer="customer"),
    doc="ANSI null semantics in one projection: nullif-injected NULLs, "
    "coalesce, three-valued plain equality (NULL result rows) vs null-safe "
    "equality (`<=>` / IS NOT DISTINCT FROM), and IS NULL dispatch "
    "(REF-ANALOG).",
    tags=("scalar", "semantics"),
)
def fn_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return spark.sql(_null_semantics_sql("spark"), customer=customer)


# ---------------------------------------------------------------------------
# fn_map_ops — map-typed column construction and re-explosion. The map is
# built from scalar columns and immediately exploded back to (key, value)
# rows so the checked output stays engine-neutral relational.
# ---------------------------------------------------------------------------


def _map_ops_sql(dialect: str) -> str:
    if dialect == "spark":
        return """
SELECT n_nationkey, k, v FROM (
  SELECT n_nationkey,
    explode(map_from_arrays(array('name', 'region'),
                            array(n_name, CAST(n_regionkey AS STRING)))) AS (k, v)
  FROM {nation}) t
ORDER BY n_nationkey, k
"""
    return """
SELECT n_nationkey, u.key AS k, u.value AS v
FROM (
  SELECT n_nationkey,
    unnest(map_entries(MAP {'name': n_name,
                            'region': CAST(n_regionkey AS VARCHAR)})) AS u
  FROM nation) t
ORDER BY n_nationkey, k
"""


@register(
    "fn_map_ops",
    oracle=_map_ops_sql("duckdb"),
    doc="Map-typed column surface: build a map from scalar columns "
    "(map_from_arrays / MAP literal) and explode it back to key-value "
    "rows — the engine-neutral way to check map semantics (REF-ANALOG).",
    tags=("scalar", "semantics"),
)
def fn_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_map_ops_sql("spark"), nation=load_table(spark, sf_dir, "nation"))


# ---------------------------------------------------------------------------
# fn_string_similarity — edit-distance fuzzy matching with blocking: pair
# DISTINCT part names that share their noun (second token), keep pairs
# within levenshtein 4. The distinct-project bounds the join input by
# vocabulary size, the noun block bounds pair fan-out.
# ---------------------------------------------------------------------------


def _string_similarity_sql(dialect: str) -> str:
    noun = (
        "element_at(split(p_name, ' '), 2)"
        if dialect == "spark"
        else "string_split(p_name, ' ')[2]"
    )
    return f"""
WITH names AS (SELECT DISTINCT p_name, {noun} AS noun FROM {{part}})
SELECT a.p_name AS name_a, b.p_name AS name_b,
  levenshtein(a.p_name, b.p_name) AS dist
FROM names a
JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 4
ORDER BY dist, name_a, name_b
"""


@register(
    "fn_string_similarity",
    oracle=_string_similarity_sql("duckdb").format(part="part"),
    doc="Levenshtein fuzzy matching of part names, blocked on the shared "
    "noun token over the DISTINCT name vocabulary — edit distance runs on "
    "vocab-sized blocks, never all row pairs (REF-ANALOG).",
    tags=("scalar", "semantics", "dedup"),
)
def fn_string_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return spark.sql(_string_similarity_sql("spark"), part=part)


# ---------------------------------------------------------------------------
# fn_variant_json — Spark 4 VARIANT ingestion of the events.props JSON:
# parse once, typed-path extract, aggregate by event type. The DuckDB
# oracle reads the same path with its JSON functions.
# ---------------------------------------------------------------------------


def _variant_json_sql(dialect: str) -> str:
    k = (
        "variant_get(parse_json(props), '$.k', 'int')"
        if dialect == "spark"
        else "CAST(json_extract_string(props, '$.k') AS INT)"
    )
    return f"""
SELECT event_type, count(*) AS n_events,
  min(k) AS min_k, max(k) AS max_k, CAST(sum(k) AS BIGINT) AS sum_k
FROM (SELECT event_type, {k} AS k FROM {{events}}) t
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "fn_variant_json",
    oracle=_variant_json_sql("duckdb").format(events="events"),
    doc="Semi-structured access via Spark 4 VARIANT: parse_json(props) + "
    "typed variant_get on the JSON path, aggregated per event type "
    "(oracle: DuckDB json_extract). Parse happens once in the projection, "
    "map-side (REF-ANALOG of fn_json_extract with the modern type).",
    tags=("scalar", "semantics", "json"),
)
def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_variant_json_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# fn_url_parse — URL decomposition. URLs are synthesized deterministically
# from document columns (the tables carry none), then Spark's parse_url
# extracts host/path/query-param; the oracle recomputes the same pieces
# with regexes.
# ---------------------------------------------------------------------------


def _url_parse_sql(dialect: str) -> str:
    # coalesce the nullable inputs BEFORE formatting: Spark's
    # format_string renders a NULL arg as the string 'null' while
    # DuckDB's printf propagates NULL to the whole URL — on the r13
    # skew fixture (90%-NULL source/lang) the two sides diverged on
    # every nulled row. A shared sentinel makes the synthesized URL
    # deterministic in both engines; no-op on null-free fixtures.
    src = "coalesce(source, 'na')"
    lng = "coalesce(lang, 'na')"
    if dialect == "spark":
        fmt = (
            "format_string('https://%s.example.com/docs/%d?lang=%s', "
            f"{src}, doc_id, {lng})"
        )
        host = "parse_url(url, 'HOST')"
        path = "parse_url(url, 'PATH')"
        lang = "parse_url(url, 'QUERY', 'lang')"
    else:
        fmt = (
            "printf('https://%s.example.com/docs/%d?lang=%s', "
            f"{src}, doc_id, {lng})"
        )
        host = "regexp_extract(url, 'https://([^/]+)', 1)"
        path = "regexp_extract(url, 'https://[^/]+(/[^?]*)', 1)"
        lang = "regexp_extract(url, 'lang=(.*)$', 1)"
    return f"""
SELECT doc_id, {host} AS host, {path} AS path, {lang} AS lang_param
FROM (SELECT doc_id, {fmt} AS url, lang FROM {{documents}}) u
ORDER BY doc_id
"""


@register(
    "fn_url_parse",
    oracle=_url_parse_sql("duckdb").format(documents="documents"),
    doc="URL decomposition (host / path / query parameter) via parse_url "
    "over deterministically synthesized document URLs; pure map-side "
    "projection (REF-ANALOG; the oracle recomputes with regexes).",
    tags=("scalar", "semantics"),
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return spark.sql(_url_parse_sql("spark"), documents=documents)


# ---------------------------------------------------------------------------
# agg_string_listagg — deterministic ordered string aggregation: Spark 4
# listagg WITHIN GROUP vs DuckDB string_agg ORDER BY. Groups are
# dimension-bounded (nations per region), which is the only shape ordered
# listagg should take at scale.
# ---------------------------------------------------------------------------


def _listagg_sql(dialect: str) -> str:
    agg = ordered_string_agg(dialect, "n_name", "','", "n_name")
    return f"""
SELECT r_name, count(*) AS n_nations, {agg} AS nation_list
FROM {{nation}} JOIN {{region}} ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


@register(
    "agg_string_listagg",
    oracle=_listagg_sql("duckdb").format(nation="nation", region="region"),
    doc="Ordered string aggregation (Spark 4 listagg WITHIN GROUP / DuckDB "
    "string_agg ORDER BY) of nation names per region — explicit intra-"
    "group order makes the concatenation deterministic; offered only for "
    "bounded groups (REF-ANALOG).",
    tags=("agg", "semantics"),
)
def agg_string_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _listagg_sql("spark"),
        nation=load_table(spark, sf_dir, "nation"),
        region=load_table(spark, sf_dir, "region"),
    )


# ---------------------------------------------------------------------------
# fn_try_arith — error-safe arithmetic under ANSI mode: Spark 4 runs with
# ANSI on, where overflow / division-by-zero / bad casts THROW; the try_*
# family returns NULL instead — the contract a pipeline needs to survive
# dirty data without per-row exception handling. The DuckDB oracle builds
# the same NULL outcomes from guarded CASE expressions and TRY_CAST.
# Checked outputs are NULL-free (counts of null outcomes), per the repo's
# null-representation rule.
# ---------------------------------------------------------------------------


def _try_arith_sql(dialect: str) -> str:
    if dialect == "spark":
        div = "try_divide(o_totalprice, CAST(o_custkey % 10 AS DOUBLE))"
        add = "try_add(9223372036854775807, o_orderkey)"
        cast = "try_cast(o_orderpriority AS INT)"
    else:
        div = (
            "CASE WHEN o_custkey % 10 = 0 THEN NULL "
            "ELSE o_totalprice / CAST(o_custkey % 10 AS DOUBLE) END"
        )
        add = "CASE WHEN o_orderkey > 0 THEN NULL ELSE 9223372036854775807 + o_orderkey END"
        cast = "TRY_CAST(o_orderpriority AS INT)"
    return f"""
SELECT
  count(*) AS n_rows,
  CAST(sum(CASE WHEN {div} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
  CAST(sum(CASE WHEN {add} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_add_overflow,
  CAST(sum(CASE WHEN {cast} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cast_fail,
  {synth.q6(f"sum(coalesce(floor({div}), 0e0))")} AS sum_safe_div
FROM {{orders}}
"""


@register(
    "fn_try_arith",
    oracle=_try_arith_sql("duckdb").format(orders="orders"),
    doc="ANSI-mode error-safe arithmetic: try_divide / try_add overflow / "
    "try_cast return NULL where ANSI would throw — per-outcome null "
    "counts plus a floor-quantized safe-division sum (oracle rebuilds the "
    "same outcomes with guarded CASE + TRY_CAST) (REF-ANALOG of the "
    "reference's sigma<=0 guard, app.py:23-24).",
    tags=("scalar", "semantics", "ansi"),
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return spark.sql(_try_arith_sql("spark"), orders=orders)


# ---------------------------------------------------------------------------
# fn_xml_funcs — the scalar XML surface (Spark 4 to_xml / from_xml /
# xpath_*): serialize a struct per row, parse it back, and extract fields
# via XPath, including an entity round trip (`<`, `&` escape on write,
# decode on xpath read). Two derivations, one hash (the udtf_python_native
# pattern): the oracle recomputes every output straight from the source
# columns, so any corruption in serialize→parse→extract breaks the hash.
# ---------------------------------------------------------------------------


def _xml_funcs_sql(dialect: str) -> str:
    # API-coverage key: to_xml/from_xml/xpath are inherently per-row XML
    # work (measured: the three XPath evaluations dominate; a single
    # from_xml parse via the p CTE saves only ~6% — the r10 bench first
    # cut called from_xml twice). A deterministic 10% key slice keeps
    # 15 k rows of pinned semantics at sf0.1 without carrying ~5 s of
    # per-row parse cost as dead bench weight; the FULL-table XML path
    # is src_xml_roundtrip (the ingest posture: land XML → parquet →
    # query columnar, never xpath over a fact table).
    if dialect == "spark":
        return """
WITH x AS (
  SELECT c_custkey, c_name, c_mktsegment,
    to_xml(named_struct(
      'ck', c_custkey, 'nm', c_name, 'seg', c_mktsegment,
      'esc', concat(c_name, '<&>'))) AS xml
  FROM {customer} WHERE c_custkey % 10 = 0
),
p AS (
  SELECT c_custkey, xml,
    from_xml(xml, 'ck BIGINT, nm STRING, seg STRING, esc STRING') AS s
  FROM x
)
SELECT c_custkey,
  s.nm AS name_rt,
  s.esc AS esc_rt,
  xpath_string(xml, '/ROW/seg') AS seg_xp,
  xpath_string(xml, '/ROW/esc') AS esc_xp,
  xpath_long(xml, '/ROW/ck') AS key_xp
FROM p
ORDER BY c_custkey
"""
    return """
SELECT c_custkey,
  c_name AS name_rt,
  c_name || '<&>' AS esc_rt,
  c_mktsegment AS seg_xp,
  c_name || '<&>' AS esc_xp,
  c_custkey AS key_xp
FROM customer WHERE c_custkey % 10 = 0
ORDER BY c_custkey
"""


@register(
    "fn_xml_funcs",
    oracle=_xml_funcs_sql("duckdb"),
    doc="Scalar XML functions (Spark 4 native): to_xml(struct) per row → "
    "from_xml typed parse-back + xpath_string/xpath_long extraction, with "
    "a crafted `<&>` marker proving entity escape on serialize and decode "
    "on XPath read. Oracle recomputes all outputs relationally from the "
    "source columns — serialize→parse→extract must be the identity "
    "(REF-ANALOG sibling of fn_json_extract/fn_variant_type). Map-side "
    "projection only: no shuffle, scales embarrassingly.",
    tags=("scalar", "semantics", "xml"),
)
def fn_xml_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return spark.sql(_xml_funcs_sql("spark"), customer=customer)


# ---------------------------------------------------------------------------
# fn_collation — Spark 4 string collation: grouping, prefix predicates and
# equality under UTF8_LCASE merge case variants that UTF8_BINARY keeps
# apart. Case variants are synthesized deterministically (keyed on
# c_custkey % 3: UPPER / lower / Title) so the collated group-by provably
# merges 3 distinct casings per segment (n_casings pins exactly that); the
# oracle lowers explicitly. Outputs project lower() of the collated key —
# the group REPRESENTATIVE casing Spark surfaces is arrival-order-
# dependent, so it must never reach a hashed column.
# ---------------------------------------------------------------------------

_COLLATE_VARIANT = (
    "CASE CAST(c_custkey % 3 AS INT) WHEN 0 THEN c_mktsegment "
    "WHEN 1 THEN lower(c_mktsegment) "
    "ELSE concat(upper(substr(c_mktsegment, 1, 1)), "
    "lower(substr(c_mktsegment, 2))) END"
)


def _collation_sql(dialect: str) -> str:
    if dialect == "spark":
        return f"""
SELECT lower(seg_c) AS segment,
  CAST(count(*) AS BIGINT) AS n,
  CAST(count(DISTINCT seg_raw) AS BIGINT) AS n_casings,
  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
  CAST(sum(CASE WHEN startswith(seg_c, 'BU') THEN 1 ELSE 0 END) AS BIGINT)
    AS n_bu_pfx
FROM (
  SELECT {_COLLATE_VARIANT} AS seg_raw,
    collate({_COLLATE_VARIANT}, 'UTF8_LCASE') AS seg_c,
    c_acctbal
  FROM {{customer}}
) v
GROUP BY seg_c
ORDER BY segment
"""
    return f"""
SELECT lower(seg_raw) AS segment,
  CAST(count(*) AS BIGINT) AS n,
  CAST(count(DISTINCT seg_raw) AS BIGINT) AS n_casings,
  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
  CAST(sum(CASE WHEN lower(seg_raw) LIKE 'bu%' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_bu_pfx
FROM (
  SELECT {_COLLATE_VARIANT} AS seg_raw, c_acctbal FROM customer
) v
GROUP BY lower(seg_raw)
ORDER BY segment
"""


@register(
    "fn_collation",
    oracle=_collation_sql("duckdb"),
    doc="Spark 4 string collation (UTF8_LCASE): case-insensitive GROUP BY "
    "merges 3 synthesized casings per segment (n_casings = the distinct "
    "raw forms inside each merged group), collation-aware startswith "
    "matches a mixed-case prefix, and money sums stay decimal-exact "
    "across the merge. Oracle lowers explicitly; outputs project lower() "
    "— never the arrival-order group representative. ASCII-only domain "
    "by construction (ICU vs libc case folding agree). Scale: collation "
    "is a comparator property — the group-by shuffles on the collation "
    "key exactly like any agg; no extra pass.",
    tags=("scalar", "semantics", "collation"),
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return spark.sql(_collation_sql("spark"), customer=customer)


# ---------------------------------------------------------------------------
# fn_time_type — the TIME type (Spark 4.1, behind the documented
# spark.sql.timeType.enabled preview flag): time-of-day values detached
# from any date — literals, to_time parsing, hour() extraction,
# comparison and min/max aggregation. DuckDB has a native TIME type, so
# the oracle exercises the SAME type on its side (ts truncated to whole
# seconds first: to_time parses a second-precision string while DuckDB's
# CAST keeps microseconds). The builder leaves the flag enabled for the
# session — it unlocks a type, it does not alter other semantics.
# ---------------------------------------------------------------------------


def _time_type_sql(dialect: str) -> str:
    if dialect == "spark":
        return """
SELECT hour(t) AS hr,
  CAST(count(*) AS BIGINT) AS n,
  CAST(min(t) AS STRING) AS min_t,
  CAST(max(t) AS STRING) AS max_t,
  CAST(sum(CASE WHEN t >= TIME'12:00:00' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_pm
FROM (SELECT to_time(date_format(ts, 'HH:mm:ss')) AS t FROM {events}) v
GROUP BY hour(t)
ORDER BY hr
"""
    return """
SELECT hour(t) AS hr,
  CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(min(t) AS VARCHAR) AS VARCHAR) AS min_t,
  CAST(CAST(max(t) AS VARCHAR) AS VARCHAR) AS max_t,
  CAST(sum(CASE WHEN t >= TIME '12:00:00' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_pm
FROM (SELECT CAST(date_trunc('second', ts) AS TIME) AS t FROM events) v
GROUP BY hour(t)
ORDER BY hr
"""


@register(
    "fn_time_type",
    oracle=_time_type_sql("duckdb"),
    doc="TIME type (Spark 4.1 preview, spark.sql.timeType.enabled): "
    "time-of-day extracted from event timestamps via to_time, grouped "
    "by hour(t), with TIME comparison (>= TIME'12:00:00'), min/max TIME "
    "aggregation and string round-trip — against DuckDB's NATIVE TIME "
    "type doing the identical derivation (both engines run the type, "
    "not a string emulation). Map-side projection + one bounded-key agg.",
    tags=("scalar", "semantics", "datetime"),
)
def fn_time_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The preview flag gates ANALYSIS only (probed: an analyzed TIME plan
    # executes fine after the flag is unset — pinned in
    # tests/test_invariants.py::test_time_type_flag_scoped), so scope it
    # around the spark.sql() parse and restore immediately: later keys on
    # the shared session never see the preview flag (ADVICE r10).
    events = load_table(spark, sf_dir, "events")
    with scoped_confs(spark, {"spark.sql.timeType.enabled": "true"}):
        return spark.sql(_time_type_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# fn_interval_agg — ANSI day-time INTERVAL as a first-class COLUMN type:
# per-user event gaps built as intervals (make_dt_interval), then
# aggregated AS intervals — count/sum/max and interval×int scaling —
# before converting to seconds only at the output boundary
# (CAST(interval AS BIGINT) = total seconds in Spark; epoch() in
# DuckDB). Gaps are truncated to WHOLE seconds on both sides before the
# interval is built: integer-exact interval arithmetic end-to-end, no
# fractional-second cast ambiguity crosses engines. ts NULLS excluded
# explicitly (Spark orders NULLS FIRST, DuckDB NULLS LAST — the one
# window-order divergence this key would otherwise inherit).
# ---------------------------------------------------------------------------


def _interval_agg_sql(dialect: str) -> str:
    if dialect == "spark":
        return """
WITH gaps AS (
  SELECT user_id,
    make_dt_interval(0, 0, 0, CAST(
      (unix_micros(ts) - lag(unix_micros(ts)) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
      )) DIV 1000000 AS DOUBLE)) AS gap
  FROM {events} WHERE ts IS NOT NULL
)
SELECT user_id,
  CAST(count(gap) AS BIGINT) AS n_gaps,
  CAST(CAST(sum(gap) AS BIGINT) AS BIGINT) AS total_gap_s,
  CAST(CAST(max(gap) AS BIGINT) AS BIGINT) AS max_gap_s,
  CAST(CAST(sum(gap) * 2 AS BIGINT) AS BIGINT) AS dbl_gap_s
FROM gaps GROUP BY user_id ORDER BY user_id
"""
    return """
WITH gaps AS (
  SELECT user_id,
    to_seconds(CAST(
      (epoch_us(ts) - lag(epoch_us(ts)) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
      )) // 1000000 AS BIGINT)) AS gap
  FROM events WHERE ts IS NOT NULL
)
SELECT user_id,
  CAST(count(gap) AS BIGINT) AS n_gaps,
  CAST(sum(epoch(gap)) AS BIGINT) AS total_gap_s,
  CAST(epoch(max(gap)) AS BIGINT) AS max_gap_s,
  CAST(sum(epoch(gap * 2)) AS BIGINT) AS dbl_gap_s
FROM gaps GROUP BY user_id ORDER BY user_id
"""


@register(
    "fn_interval_agg",
    oracle=_interval_agg_sql("duckdb"),
    doc="ANSI day-time intervals as aggregated columns: whole-second "
    "per-user event gaps built with make_dt_interval, summed / maxed / "
    "scaled (interval × 2) AS INTERVALS, seconds extracted only at the "
    "output boundary — DuckDB builds/compares/scales its native "
    "INTERVAL through the same derivation (it lacks sum(INTERVAL), so "
    "its sums run over epoch seconds of the identical intervals). "
    "One window + one bounded-key agg; NULL ts excluded on both sides "
    "(documented NULLS FIRST/LAST window-order divergence).",
    tags=("scalar", "semantics", "datetime"),
)
def fn_interval_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return spark.sql(_interval_agg_sql("spark"), events=events)


# ---------------------------------------------------------------------------
# fn_mask_redact — the built-in mask() data-redaction function (the
# governed-warehouse sibling of ns_pii_scrub's regex pipeline): default
# class replacement (upper→X, lower→x, digit→n, other kept) and fully
# custom replacement chars. The oracle emulates the class mapping with
# chained global regexes — replacement order chosen so no pass's output
# chars are in a later pass's class (other → upper → lower → digit).
# ASCII domain by construction (customer names).
# ---------------------------------------------------------------------------


def _mask_sql(dialect: str) -> str:
    if dialect == "spark":
        return """
SELECT c_custkey,
  mask(c_name) AS masked_default,
  mask(c_name, 'U', 'l', '#', '*') AS masked_custom,
  mask(c_name, 'A', 'a', '0') AS masked_digits
FROM {customer} ORDER BY c_custkey
"""
    return """
SELECT c_custkey,
  regexp_replace(regexp_replace(regexp_replace(c_name,
    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
    AS masked_default,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(c_name,
    '[^A-Za-z0-9]', '*', 'g'), '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'),
    '[0-9]', '#', 'g') AS masked_custom,
  regexp_replace(regexp_replace(regexp_replace(c_name,
    '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'), '[0-9]', '0', 'g')
    AS masked_digits
FROM customer ORDER BY c_custkey
"""


@register(
    "fn_mask_redact",
    oracle=_mask_sql("duckdb"),
    doc="Built-in mask() redaction: default char-class replacement, "
    "fully custom replacement chars, and a digits-only phone mask — "
    "each hash-pinned against a chained-regex emulation (replacement "
    "order keeps every pass's output outside later passes' classes). "
    "Map-side projection; the governed-warehouse twin of ns_pii_scrub.",
    tags=("scalar", "semantics"),
)
def fn_mask_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_mask_sql("spark"), customer=load_table(spark, sf_dir, "customer"))


# ---------------------------------------------------------------------------
# fn_crypto_aes — column encryption: aes_encrypt/aes_decrypt (AES-128,
# deterministic ECB mode — GCM's random IV would break the value hash)
# plus sha2-256 content hashing. DuckDB cannot run AES, so the checked
# contract is the round-trip identity (decrypt∘encrypt = id), the PKCS7
# ciphertext LENGTH law ((len DIV 16 + 1)·16 — real AES, not a stub),
# and the sha256 hex against DuckDB's native sha256; ciphertext
# determinism + a known test vector are pytest-pinned.
# ---------------------------------------------------------------------------

_AES_KEY = "0123456789abcdef"


def _crypto_sql(dialect: str) -> str:
    if dialect == "spark":
        return f"""
SELECT c_custkey,
  CAST(aes_decrypt(aes_encrypt(c_name, '{_AES_KEY}', 'ECB'),
    '{_AES_KEY}', 'ECB') AS STRING) AS name_rt,
  CAST(length(aes_encrypt(c_name, '{_AES_KEY}', 'ECB')) AS BIGINT)
    AS ct_len,
  sha2(c_name, 256) AS name_sha
FROM {{customer}} ORDER BY c_custkey
"""
    return """
SELECT c_custkey,
  c_name AS name_rt,
  CAST((length(c_name) // 16 + 1) * 16 AS BIGINT) AS ct_len,
  sha256(c_name) AS name_sha
FROM customer ORDER BY c_custkey
"""


@register(
    "fn_crypto_aes",
    oracle=_crypto_sql("duckdb"),
    doc="Column encryption surface: AES-128-ECB encrypt→decrypt "
    "round-trip identity, the PKCS7 ciphertext-length law, and sha2-256 "
    "hex pinned against DuckDB's native sha256. ECB chosen for "
    "determinism (mode choice documented: production favors GCM, whose "
    "random IV is exactly why it cannot be value-hashed); key literal "
    "is a test fixture. Map-side projection, JVM cipher per batch.",
    tags=("scalar", "semantics"),
)
def fn_crypto_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return spark.sql(_crypto_sql("spark"), customer=customer)
