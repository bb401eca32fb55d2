"""Physical-plan assertions (SURVEY.md 'Optimize for scale — concretely').

These lock in the scale-critical plan properties: predicate pushdown reaches
the parquet scan, column pruning shrinks ReadSchema, small dimensions
broadcast, and whole-stage codegen covers the hot path.
"""

from __future__ import annotations

import re

import pytest

from week3_2_practice_big_data__spark import REGISTRY

from .conftest import SF_SMALL, newest_run_dir


def _formatted_plan(spark, key: str) -> str:
    df = REGISTRY[key].builder(spark, SF_SMALL)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_flagship_pushdown_and_pruning(spark):
    plan = _formatted_plan(spark, "agg_groupby_multi")
    assert "LessThanOrEqual(l_shipdate" in plan  # filter reached the scan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0], (
        "unused columns must be pruned from the scan"
    )


def test_dimension_joins_broadcast(spark):
    plan = _formatted_plan(spark, "sort_orderby")
    # formatted mode lists each operator in tree + detail section
    assert plan.count("BroadcastHashJoin") >= 2  # customer and nation
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_range_preds(spark):
    plan = _formatted_plan(spark, "filt_range_pred")
    assert "GreaterThanOrEqual(l_quantity,10.0)" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_topk_uses_take_ordered(spark):
    plan = _formatted_plan(spark, "limit_topk")
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_bucketed_join_has_no_exchange_before_join(spark):
    """Bucketed tables join co-located: no shuffle between scan and SMJ."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        df = REGISTRY["join_bucketed_colocated"].builder(spark, SF_SMALL)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        # the subtree below the join must contain no hash exchange
        below_join = plan.split("SortMergeJoin", 1)[1].split("== Initial Plan ==")[0]
        assert "Exchange hashpartitioning" not in below_join
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pivot_single_scan_pruned(spark):
    """Pinned pivot values: no discovery job, one scan, pruned ReadSchema."""
    plan = _formatted_plan(spark, "reshape_pivot")
    # formatted mode lists each node in tree + details (x2 per node)
    assert plan.count("Scan parquet") == 2
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_quantity" in read and "l_orderkey" not in read


def test_salted_join_is_equi_not_nested_loop(spark):
    """Salt+replicate must stay an equi-join on (key, salt)."""
    plan = _formatted_plan(spark, "join_salted_skew")
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_merge_upsert_is_single_full_outer(spark):
    plan = _formatted_plan(spark, "merge_upsert")
    assert plan.count("FullOuter") >= 1
    # one pass over customer, two aggregated passes over orders
    # (update+insert); x2 for tree + details
    assert plan.count("Scan parquet") <= 6


def test_range_frame_single_window_pass(spark):
    """Trailing RANGE frame: one shuffle on user_id, one Window operator."""
    plan = _formatted_plan(spark, "win_range_frame")
    assert plan.count("Window") == 2  # one node: tree + details


def test_udaf_runs_as_grouped_agg_pandas(spark):
    """The UDAF must execute as Arrow-batched grouped aggregation, and its
    final division must stay a JVM-side projection."""
    plan = _formatted_plan(spark, "udaf_weighted_quantity")
    # node name varies by Spark version: AggregateInPandas (3.x) vs
    # ArrowAggregatePython (4.x); both are the Arrow grouped-agg operator
    assert "AggregateInPandas" in plan or "ArrowAggregatePython" in plan


def test_stream_static_dim_filter_pushed(spark):
    """The segment filter on the static dimension must reach its scan."""
    import pyspark.sql.functions as F
    from week3_2_practice_big_data__spark.io import load_table

    dim = (
        load_table(spark, SF_SMALL, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name")
    )
    plan = dim._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters" in plan and "c_mktsegment" in plan.split("PushedFilters")[1].splitlines()[0]


def test_kmeans_single_declarative_plan(spark):
    """Unrolled k-means is one lazy plan: no Python UDFs, no collect."""
    plan = _formatted_plan(spark, "iter_kmeans_points")
    assert "Pandas" not in plan and "BatchEvalPython" not in plan


def test_connected_components_rounds_reuse_cache(spark):
    """Each CC round must read the persisted edge list, not re-generate it."""
    df = REGISTRY["iter_connected_components"].builder(spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_iterative_checkpoint_bounds_plan_depth(spark):
    """localCheckpoint every _CKPT_EVERY rounds truncates lineage: a 16-round
    PageRank plan must be no deeper than an UNcheckpointed 8-round plan —
    i.e. plan depth is bounded by the checkpoint interval, not the round
    count (VERDICT r1 §Next-round 9)."""
    from week3_2_practice_big_data__spark.plans.iterative import (
        _CKPT_EVERY,
        _cc_rounds,
        _pagerank_rounds,
    )
    from .conftest import SF_SMALL

    def depth(df):
        return len(
            df._jdf.queryExecution().optimizedPlan().toString().splitlines()
        )

    ckpt16 = depth(_pagerank_rounds(spark, SF_SMALL, 16, _CKPT_EVERY))
    flat8 = depth(_pagerank_rounds(spark, SF_SMALL, 8, None))
    assert ckpt16 < flat8

    cc16 = depth(_cc_rounds(spark, 16, _CKPT_EVERY))
    cc8 = depth(_cc_rounds(spark, 8, None))
    assert cc16 < cc8


def test_materialized_relations_stay_materialized(spark):
    """Regression guard for the cache-matching pitfall: multi-referenced
    relations (minhash sig, simhash fp, band sigs, canvas) must enter
    consumer plans as RDD-backed scans (LogicalRDD), not be re-derived —
    plan-matching caching silently misses for collect_list/lambda plans."""
    from .conftest import SF_SMALL

    from week3_2_practice_big_data__spark import REGISTRY

    expect = {
        "ns_dedup_minhash": 1,      # sig referenced 3x -> >=1 RDD scan
        "ns_dedup_cluster": 2,      # pairs per round + sig
        "ns_dedup_simhash": 3,      # fp: bands + fa + fb
        "ns_dedup_ngram_jaccard": 3,  # shingles: a + b + sizes
        "ns_dedup_embed_cosine": 4,   # rep band_sig a/b + rep norms a/b + gm
        "ns_semdedup": 3,             # cells ref x2 + rep norms + gm
        "proj_resample_bilinear": 4,  # canvas 4-neighbor gather
    }
    for key, min_rdd in expect.items():
        df = REGISTRY[key].builder(spark, SF_SMALL)
        lp = df._jdf.queryExecution().optimizedPlan().toString()
        assert lp.count("LogicalRDD") >= min_rdd, (
            key, lp.count("LogicalRDD"), min_rdd
        )


def test_sessionize_strategies_agree(spark):
    """Gaps-and-islands window sessionization and native session_window()
    must produce identical sessions (physical-strategy pair, like pip-join
    vs scanline)."""
    from .conftest import SF_SMALL

    from week3_2_practice_big_data__spark import REGISTRY

    a = sorted(
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in REGISTRY["win_sessionize_gaps"].builder(spark, SF_SMALL).collect()
    )
    b = sorted(
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in REGISTRY["stream_session_window"].builder(spark, SF_SMALL).collect()
    )
    assert a == b


def test_sessionize_exact_gap_pair_merges(spark):
    """ADVICE r9 (medium) — resolved by LIVE calibration, against the
    advisory claim: two events EXACTLY gap (300 s) apart form ONE session.
    Spark's session_window() merges adjacent ranges in both batch and
    streaming execution (verified r10 on this engine), so the shared
    gaps-and-islands predicate stays `diff > gap`. Pinned on a crafted
    fixture where the exact-gap pair actually occurs (the random corpus
    never lands one) alongside a just-inside pair (gap - 1 us -> one
    session) and a just-outside pair (gap + 1 us -> two sessions)."""
    import os

    import duckdb

    from week3_2_practice_big_data__spark.operators.analytics import _GAP_US

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        "sf_sessgap",
    )
    stamp = os.path.join(out, "_STAMP_v1")
    if not os.path.exists(stamp):
        os.makedirs(out, exist_ok=True)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE e (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type VARCHAR, value DOUBLE, props VARCHAR)"
        )
        t0_us = 1_704_067_200_000_000
        rows = [
            (1, 0, 1), (2, _GAP_US, 1),          # exactly gap -> MERGE
            (3, 0, 2), (4, _GAP_US - 1, 2),      # 1 us inside -> merge
            (5, 0, 3), (6, _GAP_US + 1, 3),      # 1 us outside -> split
        ]
        for eid, us, uid in rows:
            con.execute(
                "INSERT INTO e VALUES (?, make_timestamp(?), ?, 'view', "
                "0e0, NULL)",
                [eid, t0_us + us, uid],
            )
        con.execute(f"COPY e TO '{out}/events.parquet' (FORMAT PARQUET)")
        with open(stamp, "w") as f:
            f.write("v1")

    def sessions(key):
        return sorted(
            (r["user_id"], r["session_start_us"], r["session_end_us"],
             r["n_events"])
            for r in REGISTRY[key].builder(spark, out).collect()
        )

    gaps, native = sessions("win_sessionize_gaps"), sessions(
        "stream_session_window"
    )
    assert gaps == native, (gaps, native)
    t0 = 1_704_067_200_000_000
    assert gaps == [
        (1, t0, t0 + 2 * _GAP_US, 2),
        (2, t0, t0 + 2 * _GAP_US - 1, 2),
        (3, t0, t0 + _GAP_US, 1),
        (3, t0 + _GAP_US + 1, t0 + 2 * _GAP_US + 1, 1),
    ], gaps


def test_correlated_scalar_decorrelates_to_one_join(spark):
    """The per-customer COUNT subquery must become aggregate + outer join —
    no iterative per-row subquery execution node."""
    plan = _formatted_plan(spark, "qry_correlated_scalar")
    assert "Subquery" not in plan  # fully decorrelated
    assert plan.count("HashAggregate") >= 2  # partial+final grouped count


def test_exists_plans_as_semi_and_anti_join(spark):
    plan = _formatted_plan(spark, "qry_exists_correlated")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan  # both correlations are equi-joins


def test_q4_exists_semi_join_prunes_lineitem(spark):
    """Q4's EXISTS must semi-join and read only the two lineitem columns
    the predicate needs (orderkey, shipdate)."""
    plan = _formatted_plan(spark, "join_q4_order_priority")
    assert "LeftSemi" in plan
    lineitem_schema = [
        line
        for line in plan.splitlines()
        if "ReadSchema" in line and "l_orderkey" in line
    ]
    assert lineitem_schema and "l_extendedprice" not in lineitem_schema[0]


def test_q7_broadcasts_all_dimensions(spark):
    """Q7's star join: lineitem is the only big input; supplier, customer
    and both nation sides broadcast — the fact table never shuffles for
    the joins."""
    plan = _formatted_plan(spark, "join_q7_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_recursive_cte_depth_profile(spark):
    """Halving-walk invariants: depth 0 holds every part exactly once and
    level sizes never grow as the walk ascends."""
    df = REGISTRY["qry_recursive_cte"].builder(spark, SF_SMALL)
    rows = {r["depth"]: r["n_nodes"] for r in df.collect()}
    # 200 = the sf0.001 `part` table rowcount (the walk's seed level).
    assert rows[0] == 200
    assert all(rows[d] >= rows[d + 1] for d in range(max(rows)))


def test_gd_logreg_bounded_scans(spark):
    """Each unrolled GD step re-scans lineitem once (3 steps + accuracy
    pass): the plan must stay a bounded chain of scans + broadcast scalar
    weights — no NestedLoop blowup, no per-row subquery."""
    df = REGISTRY["iter_gd_logreg"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert plan.count("Scan parquet") == 0  # training set checkpointed once
    assert plan.count("Scan ExistingRDD") >= 4  # steps read the materialization


def test_spatial_grid_is_equi_join(spark):
    """Candidate generation must be a hash equi-join on (cx, cy), never a
    nested-loop distance join."""
    plan = _formatted_plan(spark, "join_spatial_grid")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_asof_directions_agree_on_shared_matches(spark):
    """Sanity tying the three as-of directions together: whenever nearest
    picks 'backward', its gap must equal the backward join's gap for the
    same purchase."""
    back = {
        r["purchase_event_id"]: r["us_since_click"]
        for r in REGISTRY["join_asof"].builder(spark, SF_SMALL).collect()
    }
    for r in REGISTRY["join_asof_nearest"].builder(spark, SF_SMALL).collect():
        if r["matched_direction"] == "backward":
            assert back[r["purchase_event_id"]] == r["gap_us"]


def test_dpp_prunes_fact_partitions(spark):
    """The partitioned-orders scan must carry a dynamicpruning expression
    in its PartitionFilters — the dim filter reached the fact scan at
    runtime."""
    df = REGISTRY["join_dpp_partitioned"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan


def test_static_partition_prune_in_scan(spark):
    """The literal year predicate must land in PartitionFilters (planning-
    time pruning) — not as a post-scan data filter."""
    df = REGISTRY["src_partition_prune_static"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_line = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan_line and "1996" in scan_line[0]


def test_market_basket_pairs_join_on_orderkey(spark):
    """The pair stage must be an equi-join keyed on l_orderkey (basket-
    bounded fan-out), never a cartesian part×part product."""
    plan = _formatted_plan(spark, "agg_market_basket")
    assert "CartesianProduct" not in plan
    assert "l_orderkey" in plan  # join key survives into the physical plan


def test_rep_dedup_plans_have_no_cartesian(spark):
    """The rep-collapsed dedup plans must stay equi-join shaped: the only
    nested-loop join allowed is the bounded literal broadcast (centroid /
    plane / scalar-bits tables), never a data×data cartesian."""
    from .conftest import SF_SMALL

    from week3_2_practice_big_data__spark import REGISTRY

    for key in ("ns_dedup_embed_cosine", "ns_semdedup"):
        df = REGISTRY[key].builder(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, key


def test_caption_overlay_joins_broadcast(spark):
    """The caption stamp joins a ~200-row glyph-pixel relation to the full
    canvas: every join in the captioned composite must be broadcast-shaped
    (no SortMergeJoin — a shuffle of the canvas on (row, col) to meet 200
    rows would be the wrong plan at any resolution), and never cartesian."""
    from .conftest import SF_SMALL

    from week3_2_practice_big_data__spark import REGISTRY

    df = REGISTRY["gen_poster_caption"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_zorder_plan_is_aggregate_shaped(spark):
    """Z-order clustering is two bounded aggregations over one lineitem
    scan (global max, per-bucket min/max): no join of data against data,
    no cartesian — the Morton code itself is map-side arithmetic."""
    from .conftest import SF_SMALL

    from week3_2_practice_big_data__spark import REGISTRY

    df = REGISTRY["agg_zorder_clustering"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # column pruning must reach the scan: 2 of lineitem's 16 columns
    import re

    schemas = re.findall(r"ReadSchema: (struct<[^\n]*>)", plan)
    assert schemas and all(
        s == "struct<l_partkey:bigint,l_suppkey:bigint>" for s in schemas
    ), schemas


def test_dedup_expansion_joins_survive_no_broadcast(spark):
    """100 TB shape guard (VERDICT r4 item 7): the rep-collapse member
    maps (`g`, and embedding's `gm`) are corpus-sized relations — at
    scale they can NEVER be broadcast, so no dedup plan may depend on a
    hard-coded broadcast of them. Simulate the too-big-to-broadcast
    regime by disabling auto-broadcast entirely: every dedup plan must
    still compile to shuffle equi-joins (SortMergeJoin on the rep/span
    keys), with no BroadcastNestedLoopJoin anywhere and no
    BroadcastHashJoin left standing (one would mean an explicit hint
    survives where the 1000-executor cluster could not satisfy it)."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        for key in (
            "ns_dedup_minhash",
            "ns_dedup_simhash",
            "ns_dedup_substring",
            "ns_dedup_embed_cosine",
        ):
            df = REGISTRY[key].builder(spark, SF_SMALL)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, key
            assert "BroadcastNestedLoopJoin" not in plan, key
            assert "BroadcastHashJoin" not in plan, key
            # and the no-broadcast plan still computes (rep expansion
            # joins produce the same pair rows through the shuffle path)
            assert df.count() >= 0, key
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_islands_blocked_no_global_window_over_events(spark):
    """The hierarchical gaps-and-islands plan must keep every
    events-sized window PARTITIONED (by id block): the only
    unpartitioned windows allowed are the chain lag/sum over the
    materialized edge-flush summary (~n/4096 rows). The edges pass
    itself must window by block only."""
    import re

    from week3_2_practice_big_data__spark.io import load_table
    from week3_2_practice_big_data__spark.operators.advanced import (
        _islands_edges_sql,
    )

    df = REGISTRY["win_islands_blocked"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # final plan: both summary windows read the checkpointed RDD, and no
    # row_number (events-sized) window remains
    assert "row_number" not in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed edges summary

    edges_plan = spark.sql(
        _islands_edges_sql(), events=load_table(spark, SF_SMALL, "events")
    )._jdf.queryExecution()
    ep = edges_plan.executedPlan().toString()
    for line in ep.splitlines():
        if "Window [" in line:
            # windowspecdefinition(b, event_id ...) — partition key first
            assert re.search(r"windowspecdefinition\(b#\d+L", line), line


def test_corpus_tier_keys_no_global_window_over_documents(spark):
    """ns_text_perplexity / ns_sample_importance tier assignment must not
    be a corpus-sized single-partition sort (VERDICT r5 item 3): no
    ntile() anywhere, and every row_number window is PARTITIONED by the
    coarse score bucket (pb). The only unpartitioned windows are the
    cumulative-offset/total over the tiny bucket summary."""
    import re

    for key in ("ns_text_perplexity", "ns_sample_importance"):
        df = REGISTRY[key].builder(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ntile" not in plan, key
        for line in plan.splitlines():
            if "Window [" in line and "row_number" in line:
                assert re.search(r"windowspecdefinition\(pb#\d+L", line), (
                    key,
                    line,
                )


def test_ntile_blocked_no_global_window_over_orders(spark):
    """The hierarchical ntile plan must keep the orders-sized window
    PARTITIONED (by price bucket); the only unpartitioned windows are
    the cumulative-offset/total over the ~50-row bucket summary, and no
    ntile()/global row_number survives."""
    import re

    df = REGISTRY["win_ntile_blocked"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan
    for line in plan.splitlines():
        if "Window [" in line and "row_number" in line:
            assert re.search(r"windowspecdefinition\(pb#\d+L", line), line


def test_url_dedup_is_joinless_single_scan(spark):
    """URL-canonicalization dedup must be map-side canon + hash groupBy:
    one parquet scan, no join of any kind — the exact-dedup shuffle
    shape, key-bounded by distinct resources."""
    df = REGISTRY["ns_dedup_url"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_chunk_overlap_single_exchange(spark):
    """The stride chunker is a map-side explode: the ONLY exchange in the
    plan is the presentation sort — per-doc token arrays never cross a
    shuffle boundary."""
    df = REGISTRY["ns_chunk_overlap"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "Generate" in plan  # the explode


def test_bloom_decontaminate_joins_all_broadcast(spark):
    """Every join in the Bloom plan (two 1024-row mask probes + the exact
    eval rerank + the per-doc totals) must be broadcast-shaped, and the
    materialized n-gram relation must not re-scan parquet (CTE-inlining
    audit discipline)."""
    df = REGISTRY["ns_decontaminate_bloom"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("Scan parquet") == 0  # ng is checkpointed once


def test_cms_heavy_no_sort_merge_join(spark):
    """The CMS plan's joins are sketch-cell probes (≤3072-row build side)
    and the candidate rerank — broadcast-shaped at any corpus size; the
    seed/threshold cross joins are bounded literal relations
    (BroadcastNestedLoopJoin is acceptable there, CartesianProduct is
    not)."""
    df = REGISTRY["agg_sketch_cms_heavy"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_cep_single_stream_shuffle(spark):
    """win_event_pattern_cep: all pattern logic (leads/lags, burst-length
    min-over-following, per-user aggregation) must ride ONE hash exchange
    of the event stream — the naive two-consumer CTE form measured 3
    scans / 3 user_id shuffles before the single-pass rewrite."""
    import re

    df = REGISTRY["win_event_pattern_cep"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1
    assert "Join" not in plan


def test_bpe_encode_broadcast_vocab_single_corpus_scan(spark):
    """ns_bpe_encode: the corpus-wide application pass must be ONE
    parquet scan of documents joined BROADCAST against the encoded vocab
    (the trained seq chain is checkpointed, vocab-sized); the only
    non-broadcast exchanges are the vocab-bounded enc aggregate, the
    doc-bounded final aggregate, and the presentation sort — zero
    corpus-sized shuffles before the final aggregate."""
    df = REGISTRY["ns_bpe_encode"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_persist_probes_persisted_index(spark):
    """ns_dedup_incremental_persist: the probe side must be parquet SCANS
    of the persisted index tables (bands + old signatures under the
    bandidx scratch), never an in-flight recompute — exactly 3 scans
    (index bands, old sig, documents for the new-batch admit list), and
    the only signature/band machinery in the plan is the batch-sized
    new side."""
    df = REGISTRY["ns_dedup_incremental_persist"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 3
    assert plan.count("bandidx") >= 2  # both persisted tables scanned


def test_ivf_persist_probes_persisted_inverted_file(spark):
    """ns_sim_ann_ivf_persist: the corpus→cell assignment must come from
    a parquet SCAN of the persisted inverted file, never an in-flight
    recompute — 4 scans total (persisted cells, rerank embeddings, and
    two point-lookup scans of the query vector with the vec_id equality
    PUSHED to parquet), and the only centroid cross join left is the
    1-row query side."""
    df = REGISTRY["ns_sim_ann_ivf_persist"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 4
    assert plan.count("ivfidx") >= 1
    assert plan.count("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id") == 2


def test_q6_all_predicates_pushed_minimal_schema(spark):
    """agg_q6_forecast_revenue: the pushdown benchmark — every range
    predicate reaches the parquet scan and the ReadSchema carries only
    the four referenced columns."""
    plan = _formatted_plan(spark, "agg_q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan
    schema_line = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in schema_line and "l_tax" not in schema_line


def test_q19_brackets_plan_as_single_join(spark):
    """join_q19_bracket_revenue: the disjunctive three-bracket predicate
    must plan as ONE broadcast join on p_partkey with the brackets as a
    filter — never three unioned scans."""
    df = REGISTRY["join_q19_bracket_revenue"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2
    assert plan.count("BroadcastHashJoin") == 1
    assert "Union" not in plan


def test_drawdown_single_user_exchange(spark):
    """ts_max_drawdown: cumulative sum, running peak, and the per-user
    max must all ride ONE user_id hash exchange — both window frames are
    the incremental UNBOUNDED-PRECEDING class (the O(n) side of the r7
    suffix-frame finding), and the final aggregate reuses the window's
    partitioning."""
    import re

    df = REGISTRY["ts_max_drawdown"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1
    assert "Join" not in plan
    assert "UNBOUNDED FOLLOWING" not in plan.upper().replace(
        "UNBOUNDED PRECEDING", ""
    )


def test_autocorr_summary_sized_work_only(spark):
    """ts_autocorr: after the daily summary materializes (checkpointed,
    coalesce(1)), every lag join and the stats pass run over the ~30-row
    relation — no parquet re-scan, no sort-merge join, no corpus-sized
    exchange."""
    df = REGISTRY["ts_autocorr"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0  # ordered is checkpointed once
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bipartite_jaccard_bounded_candidates(spark):
    """graph_bipartite_jaccard: the edge list is checkpointed once (no
    lineitem re-scan per reference), the pair join is an equi-join on
    the part key (never a cartesian |S|x|S| product), and top-k is
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    df = REGISTRY["graph_bipartite_jaccard"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0  # edges checkpointed once
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_resource_alloc_bounded_candidates(spark):
    """graph_resource_alloc: same bounded shape as bipartite_jaccard —
    edges checkpointed once (no parquet re-scan), pair candidates from
    the part equi-join (no cartesian), part-degree weights ride a
    broadcast join, top-k is TakeOrderedAndProject."""
    df = REGISTRY["graph_resource_alloc"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0  # edges checkpointed once
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_bm25_no_vocab_window_no_rescan(spark):
    """ns_text_bm25: query terms come from a TakeOrderedAndProject
    top-32 (no unpartitioned window over the vocabulary), the token
    stream is the shared checkpointed tok_mat (zero parquet scans
    except the 1-row documents count), and the ranking window is
    partitioned by qid."""
    df = REGISTRY["ns_text_bm25"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Scan parquet") == 0  # tok_mat checkpointed
    assert "CartesianProduct" not in plan


def test_kmv_intersect_checkpointed_summary_tail(spark):
    """agg_sketch_kmv_intersect: the distinct (type, user) relation is
    checkpointed once (referenced by sketch AND exact rerank — no events
    re-scan), the exact path is an equi-join, and no cartesian product
    appears (the 5-row type-pair theta join may ride a
    BroadcastNestedLoopJoin — summary-sized by construction)."""
    df = REGISTRY["agg_sketch_kmv_intersect"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0  # d checkpointed once
    assert "CartesianProduct" not in plan


def test_budget_allocation_single_hash_exchange(spark):
    """win_budget_allocation: the customer dim broadcasts (no SMJ), the
    window's o_custkey exchange is REUSED by the per-customer aggregate
    — exactly one hash exchange in the plan (the only other exchange is
    the presentation sort's range partitioning), and the running frame
    is a PRECEDING frame (incremental, never a re-aggregated suffix)."""
    df = REGISTRY["win_budget_allocation"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "unboundedfollowing" not in plan.lower()


def test_distribution_drift_two_passes_summary_tail(spark):
    """dq_distribution_drift: the two-epoch histogram is checkpointed
    once (the drift tail references it twice — totals + terms — and CTE
    inlining re-ran BOTH inherent event scans per reference: 4 scans
    measured before the materialize-once fix), so the returned plan has
    zero parquet scans and its joins are summary-sized broadcasts — no
    sort-merge join, no cartesian product."""
    df = REGISTRY["dq_distribution_drift"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0  # hist checkpointed once
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cross_corr_summary_sized_work_only(spark):
    """ts_cross_corr: after the daily two-series summary materializes,
    the 15-lag calendar join and the stats pass run over the ~30-row
    relation — no parquet re-scan, no sort-merge join, no cartesian
    (the 15-row lag literal may ride a BroadcastNestedLoopJoin)."""
    df = REGISTRY["ts_cross_corr"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0  # daily is checkpointed once
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_clustering_coeff_shared_edges_no_rescan(spark):
    """graph_clustering_coeff: the oriented edge list is the SAME
    checkpointed relation graph_triangle_count uses (zero parquet
    re-scans — degrees, the two-hop chain, and the LEFT JOIN all read
    it), no cartesian product, and the single-partition OVER () runs
    after the vocabulary-sized aggregation only."""
    df = REGISTRY["graph_clustering_coeff"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0  # edges checkpointed once
    assert "CartesianProduct" not in plan


def test_knn_classify_broadcast_queries_single_qid_window(spark):
    """ml_knn_classify: the norm relation is the shared checkpoint (no
    embeddings re-scan), the bounded query batch rides a broadcast
    nested-loop (never a shuffled cartesian), and ranking runs on a
    qid-partitioned window (no unpartitioned corpus sort)."""
    df = REGISTRY["ml_knn_classify"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0  # norms checkpointed once
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # query batch broadcasts


def test_decision_stump_single_histogram_pass(spark):
    """ml_decision_stump: the joint (vbkt, hour) class histogram is
    checkpointed once — both feature marginals and the candidate tail
    read the 384-cell relation, never the events parquet (the
    multi-reference CTE-inlining trap), and no join appears at all
    (split finding is pure aggregation over the summary)."""
    df = REGISTRY["ml_decision_stump"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0  # histogram checkpointed once
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_attribution_single_user_shuffle_prefix_frames(spark):
    """win_attribution: one events scan, the (user_id, us) window
    exchange is the only corpus-sized hash exchange (the 9-row
    attribution groupBy rides a tiny second one), and both context
    columns come from incremental PRECEDING frames — never the O(n2)
    suffix class."""
    df = REGISTRY["win_attribution"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "unboundedfollowing" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_degree_distribution_shared_edges_bounded_tail(spark):
    """graph_degree_distribution: reads only the shared checkpointed
    edge relation (zero parquet scans), and everything after the degree
    groupBy is bounded by distinct-degree count — no join in the plan at
    all."""
    df = REGISTRY["graph_degree_distribution"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0
    assert "Join" not in plan


def test_lift_gains_two_pass_bounded_tail(spark):
    """ml_lift_gains: two inherent events passes (extent + bucketing,
    the dq_distribution_drift posture), the 1-row extent rides a
    broadcast, and everything after the 16-cell histogram groupBy is
    summary-sized — no sort-merge join anywhere."""
    df = REGISTRY["ml_lift_gains"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_freshness_two_pass_type_summary(spark):
    """dq_freshness: two inherent events passes (global max broadcast +
    per-type aggregate), no sort-merge join, no corpus-sized window."""
    df = REGISTRY["dq_freshness"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2
    assert "SortMergeJoin" not in plan


def test_rowcount_anomaly_checkpointed_daily(spark):
    """dq_rowcount_anomaly: the daily summary is checkpointed once —
    median, MAD, and the output tail never re-scan events (the
    multi-reference CTE-inlining trap)."""
    df = REGISTRY["dq_rowcount_anomaly"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0
    assert "SortMergeJoin" not in plan


def test_als_checkpointed_ratings_and_factors(spark):
    """iter_als_rank2: ratings AND intermediate user factors are
    checkpointed — the item half-step and the RMSE join read the
    materializations, never the lineitem/orders parquet (the
    O(steps^2) inlining trap of iter_gd_logreg), and every join is an
    equi-join (no cartesian anywhere in ALS)."""
    df = REGISTRY["iter_als_rank2"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0
    assert "CartesianProduct" not in plan


def test_markov_single_user_shuffle_bounded_matrix(spark):
    """win_markov_transitions: one events scan, the lead() window rides
    the user exchange, and the transition matrix tail is 25 rows — no
    cartesian. (The row-total window is a FULL-partition frame over the
    25-row matrix — the win_first_last class, evaluated once per
    partition, not the O(n2) running-suffix class; CURRENT ROW-anchored
    suffix frames are what the house rule bans.)"""
    df = REGISTRY["win_markov_transitions"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "currentrow, unboundedfollowing" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_survival_two_pass_reverse_sorted_risk(spark):
    """win_survival_km: two inherent events passes (global max + user
    aggregate), at-risk suffix totals expressed as the reverse-sorted
    incremental PRECEDING frame (the O(n2) suffix class never appears),
    everything after the user groupBy lifetime-summary-sized."""
    df = REGISTRY["win_survival_km"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2
    assert "unboundedfollowing" not in plan.lower()
    assert "SortMergeJoin" not in plan


def test_pipeline_e2e_one_lazy_plan_zero_scans(spark):
    """ns_pipeline_e2e (r8): the final funnel/pack/shuffle/mixture
    statement composes over the three checkpointed stage relations — ZERO
    parquet scans in the executed plan (every corpus-sized input is a
    session-shared materialization), no cartesian product, no sort-merge
    join (the funnel joins are 20-row source aggregates), and repeat
    invocation stays scan-free (stage caches hit)."""
    for _ in range(2):
        df = REGISTRY["ns_pipeline_e2e"].builder(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 0
        assert "CartesianProduct" not in plan


def test_bfs_round_plan_equi_joins_only(spark):
    """iter_bfs_sssp (r8): one level-synchronous expansion round — the
    frontier neighbor join + the visited anti-join — must compile to
    shuffle/broadcast EQUI-joins only (never a cartesian product, never a
    nested loop over nodes); this is the per-round plan the driver loop
    checkpoints 4 times."""
    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark.io import load_table
    from week3_2_practice_big_data__spark.operators.advanced import (
        _BFS_SEEDS_SQL,
        _BFS_UND_SQL,
        _bfs_expand,
        _bip_edges,
    )

    # builder run primes the bip_edges checkpoint
    REGISTRY["iter_bfs_sssp"].builder(spark, SF_SMALL).collect()
    und = spark.sql(
        "WITH bip AS (SELECT p, s FROM {bip}) " + _BFS_UND_SQL,
        bip=_bip_edges(spark, SF_SMALL),
    )
    frontier = spark.sql(
        _BFS_SEEDS_SQL, supplier=load_table(spark, SF_SMALL, "supplier")
    )
    new = _bfs_expand(und, frontier, frontier.select("node"))
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin") >= 2
    )


def test_kmeans_embed_assignment_is_projection(spark):
    """iter_kmeans_embed (r9): the returned (round-3 live) plan must carry
    exactly ONE embeddings scan, assignment as a pure projection — no
    BroadcastNestedLoopJoin/cartesian on the corpus, no per-vector window
    (the only windowspec is the bounded <=K-row stats total), and no
    Python evaluation anywhere."""
    plan = _formatted_plan(spark, "iter_kmeans_embed")
    assert plan.count("Scan parquet") == 2  # one scan (tree + details)
    assert "CartesianProduct" not in plan
    assert "Pandas" not in plan and "BatchEvalPython" not in plan


def test_arrow_grouped_plans_flatmap_groups_in_arrow(spark):
    """udf_arrow_grouped (r10) must execute the Arrow-native grouped-map
    operator (FlatMapGroupsInArrow) — not fall back to a pandas layer —
    and shuffle once on the group key. Since r13 the registered builder
    checkpoints the kernel output below the deterministic-output sort (so
    range sampling cannot re-run the Python pass), which hides the
    operator behind an ExistingRDD in the FINAL plan — the pin moves to
    the kernel stage the builder checkpoints."""
    from week3_2_practice_big_data__spark.functions.scalar_ext import (
        _arrow_grouped_kernel_df,
    )

    df = _arrow_grouped_kernel_df(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
    # and the registered builder (checkpoint + sort) still returns the
    # kernel relation ordered by (l_orderkey, l_linenumber). ADVICE r13:
    # limit(3) on a sorted plan returns the global top-3 already ordered
    # — tautological. Collect the WHOLE sf0.001 result and compare the
    # emitted key sequence against an independently computed expectation
    # (the kernel relation's keys, sorted in Python), so a regression of
    # the ordering contract actually fails.
    out = REGISTRY["udf_arrow_grouped"].builder(spark, SF_SMALL)
    keys = [(r["l_orderkey"], r["l_linenumber"]) for r in out.collect()]
    expected = sorted(
        (r["l_orderkey"], r["l_linenumber"]) for r in df.collect()
    )
    assert keys == expected and len(keys) > 3


def test_observe_metrics_rides_the_pipeline_plan(spark):
    """dq_observe_metrics (r10): the metrics node must be CollectMetrics
    INSIDE the driven pipeline plan (one pass — not a separate scan), and
    the observed values must equal a relational recomputation on the
    same session."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from week3_2_practice_big_data__spark.io import load_table

    ev = load_table(spark, SF_SMALL, "events")
    obs = Observation("w32bd_plan_probe")
    observed = ev.observe(obs, F.count(F.lit(1)).alias("n_rows"))
    pipeline = observed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    plan = pipeline._jdf.queryExecution().optimizedPlan().toString()
    assert "CollectMetrics" in plan
    pipeline.write.format("noop").mode("overwrite").save()
    assert obs.get["n_rows"] == ev.count()
    # and the registered key's output equals the one-row metrics relation
    row = REGISTRY["dq_observe_metrics"].builder(spark, SF_SMALL).collect()
    assert len(row) == 1 and row[0]["n_rows"] == ev.count()


def test_python_datasource_sink_manifest_isolates_uncommitted(spark):
    """sink_python_datasource (r10): the two-phase-commit contract — only
    manifest-listed files are visible to the read-back; a stray staged
    file (an aborted/speculative task's leftovers) must be invisible.
    Verified by injecting a stray jsonl AFTER the committed write and
    re-running the builder's read-back (`_committed_rows`) over that
    directory: the result must be unchanged."""
    import json
    import os

    from week3_2_practice_big_data__spark.sources.generators import _committed_rows

    a = REGISTRY["sink_python_datasource"].builder(spark, SF_SMALL)
    rows_before = [tuple(r) for r in a.collect()]
    # locate this call's sink directory and inject a stray file
    out = newest_run_dir("pydsw")
    assert os.path.isdir(out), out
    with open(os.path.join(out, "part-deadbeef-stray.jsonl"), "w") as f:
        f.write(json.dumps(["stray", 999, 999]) + "\n")
    with open(os.path.join(out, "_MANIFEST")) as f:
        manifest = json.load(f)
    assert "part-deadbeef-stray.jsonl" not in manifest
    # the builder's read-back of that same directory still returns
    # exactly the committed relation
    assert sorted(_committed_rows(out)) == sorted(rows_before)


def _staged_writer(path, arrow: bool, stream: bool):
    """A writer of the staged-commit sink, made as Spark makes it: the
    DataSource built from its options, then `writer` or `streamWriter`
    called with the output schema."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from week3_2_practice_big_data__spark.sources.generators import _jsonl_sink

    schema = StructType(
        [StructField("event_type", StringType()), StructField("n", LongType())]
    )
    sink = _jsonl_sink(arrow)(options={"path": str(path)})
    return (sink.streamWriter if stream else sink.writer)(schema, False)


def _staged_input(rows, arrow: bool):
    """What write() receives: Rows, or one pyarrow RecordBatch."""
    if arrow:
        import pyarrow as pa

        return iter([pa.RecordBatch.from_pylist([r.asDict() for r in rows])])
    return iter(rows)


@pytest.mark.parametrize("arrow", [False, True], ids=["row", "arrow"])
@pytest.mark.parametrize("stream", [False, True], ids=["batch", "stream"])
def test_staged_commit_read_back_skips_uncommitted(tmp_path, arrow, stream):
    """The staged-commit sink (no Spark session): the read-back returns
    exactly the rows of the files a commit listed, whichever manifest
    shape — Row names or Arrow {"file", "n_batches"} entries, in
    `_MANIFEST` (batch) or `_MANIFEST_<batchId:06d>` (stream). A task
    that staged but was never committed, and a stray staged file, are
    invisible. Staged lines are one JSON array per row in schema order."""
    import json
    import os

    from pyspark.sql import Row

    from week3_2_practice_big_data__spark.sources.generators import (
        _committed_rows,
    )

    w = _staged_writer(tmp_path, arrow, stream)
    tasks = [[Row(event_type="click", n=3)], [Row(event_type="view", n=5)]]
    msgs = [w.write(_staged_input(rows, arrow)) for rows in tasks]
    w.write(_staged_input([Row(event_type="lost", n=7)], arrow))  # uncommitted
    with open(tmp_path / "part-deadbeef-stray.jsonl", "w") as f:
        f.write(json.dumps(["stray", 999]) + "\n")
    if stream:
        w.commit(msgs + [None], 3)
    else:
        w.commit(msgs + [None])
    manifest_name = "_MANIFEST_000003" if stream else "_MANIFEST"
    with open(tmp_path / manifest_name) as f:
        manifest = json.load(f)
    names = sorted(m.fname for m in msgs)
    if arrow:
        assert manifest == [{"file": n, "n_batches": 1} for n in names]
    else:
        assert manifest == names
    with open(tmp_path / msgs[0].fname) as f:
        assert f.read() == '["click", 3]\n'
    assert len([e for e in os.listdir(tmp_path) if e.endswith(".jsonl")]) == 4
    assert sorted(_committed_rows(str(tmp_path))) == [("click", 3), ("view", 5)]


@pytest.mark.parametrize("arrow", [False, True], ids=["row", "arrow"])
@pytest.mark.parametrize("stream", [False, True], ids=["batch", "stream"])
def test_staged_commit_abort_deletes_staged(tmp_path, arrow, stream):
    """abort() deletes every file its tasks' write() staged (a failed
    task's None message is skipped) and publishes no manifest."""
    from pyspark.sql import Row

    w = _staged_writer(tmp_path, arrow, stream)
    msgs = [
        w.write(_staged_input([Row(event_type=t, n=1)], arrow))
        for t in ("click", "view")
    ]
    assert len(list(tmp_path.iterdir())) == 2
    if stream:
        w.abort(msgs + [None], 0)
    else:
        w.abort(msgs + [None])
    assert list(tmp_path.iterdir()) == []


def test_python_datasource_pushdown_prunes_generation(spark):
    """src_python_datasource_pushdown (r10): the pushFilters hook must
    actually PRUNE the reader's generation, not just agree on values —
    an executor-side accumulator counts generated rows: 192 (the
    matching index set) proves the consumed filters reached read();
    4096 would mean Spark post-filtered a full scan. (pushFilters runs
    in a separate planning worker, so the accumulator — not a captured
    list — is the observable.)"""
    from week3_2_practice_big_data__spark.sources.generators import (
        _PYDSF_MIN_I,
        _PYDSF_N,
        _PYDSF_SENSOR,
        _pydsf_source,
    )
    import pyspark.sql.functions as F

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    acc = spark.sparkContext.accumulator(0)
    spark.dataSource.register(_pydsf_source(row_counter=acc))
    rows = (
        spark.read.format("w32bd_lcg_pushdown")
        .load()
        .filter(
            (F.col("sensor_id") == _PYDSF_SENSOR)
            & (F.col("i") >= _PYDSF_MIN_I)
        )
        .collect()
    )
    expected = sum(
        1
        for i in range(_PYDSF_MIN_I, _PYDSF_N)
        if i % 16 == _PYDSF_SENSOR
    )
    assert len(rows) == expected == 192
    assert acc.value == expected, (
        f"reader generated {acc.value} rows — pushdown did not prune"
    )


def test_python_datasource_arrow_writer_received_batches(spark):
    """sink_python_datasource_arrow (r10): the manifest must show every
    committed task received its data as Arrow RecordBatches (n_batches
    recorded per staged file; at least one file with >= 1 batch), and
    the committed union equals the relational rollup."""
    import json
    import os

    df = REGISTRY["sink_python_datasource_arrow"].builder(spark, SF_SMALL)
    got = sorted(tuple(r) for r in df.collect())
    out = newest_run_dir("pydswa")
    with open(os.path.join(out, "_MANIFEST")) as f:
        manifest = json.load(f)
    assert all(e["n_batches"] >= 0 for e in manifest)
    assert sum(e["n_batches"] for e in manifest) >= 1
    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark.io import load_table
    from week3_2_practice_big_data__spark import synth

    ref = sorted(
        tuple(r)
        for r in load_table(spark, SF_SMALL, "lineitem")
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
        .collect()
    )
    assert got == ref


def test_pandas_on_spark_plan_pure_catalyst(spark):
    """qry_pandas_on_spark (r12): the ps bridge must compile to pure
    JVM-side Catalyst — (1) no AttachDistributedSequence (the default-
    index full pass; index_col= suppresses it), (2) zero Python eval
    nodes (ps is a plan builder, not a UDF layer), (3) the pre-bridge
    time cut reaches the parquet scan as a pushed filter."""
    df = REGISTRY["qry_pandas_on_spark"].builder(spark, SF_SMALL)
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "AttachDistributedSequence" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"unexpected Python boundary: {node}"
    full = qe.toString()
    # ADVICE r12: assert the section exists first (a bare split()[1]
    # raises IndexError instead of a readable failure), and check every
    # scan's pushed-filter list, not just the first.
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", full)
    assert pushed, f"no PushedFilters section in plan:\n{full}"
    assert any("GreaterThanOrEqual(l_shipdate" in p for p in pushed), pushed


def test_pandas_on_spark_default_index_is_the_antipattern(spark):
    """The docstring's scale claim, proven live: bridging WITHOUT
    index_col plants AttachDistributedSequence in the plan (the node the
    registered key must avoid)."""
    from week3_2_practice_big_data__spark.operators.subqueries import _ps_prepared

    naive = _ps_prepared(spark, SF_SMALL).pandas_api()  # no index_col
    plan = naive._internal.spark_frame._jdf.queryExecution().toString()
    assert "AttachDistributedSequence" in plan


def _plan_tree(plan: str) -> list[str]:
    """The operator-tree section of explain('formatted'): lines between
    the '== Physical Plan ==' header and the first blank line. Line 0 is
    the ROOT; deeper (further-down) lines are closer to the scan."""
    lines = plan.splitlines()
    start = next(
        i for i, ln in enumerate(lines) if ln.startswith("== Physical Plan")
    )
    tree = []
    for ln in lines[start + 1:]:
        if not ln.strip():
            break
        tree.append(ln)
    return tree


_TREE_NODE = re.compile(r"^[\s+:|*-]*(.+?)\s+\((\d+)\)$")


def _first_line(tree: list[str], node: str) -> int:
    """Index of the first tree line whose operator is exactly ``node``
    (so "Sort" never binds to SortMergeJoin/SortAggregate, nor "Exchange"
    to BroadcastExchange)."""
    for i, ln in enumerate(tree):
        m = _TREE_NODE.match(ln)
        if m and m.group(1) == node:
            return i
    raise AssertionError(f"{node!r} not in plan tree:\n" + "\n".join(tree))


def _node_arguments(plan: str, tree_line: str) -> str:
    """The ``Arguments:`` line of a tree node's detail block in a
    formatted plan."""
    name, node_id = _TREE_NODE.match(tree_line).groups()
    block = plan.split(f"\n({node_id}) {name}", 1)[1].split("\n\n", 1)[0]
    return next(ln for ln in block.splitlines() if ln.startswith("Arguments:"))


def test_presorted_python_stages_keep_sort_below_python(spark):
    """ADVICE r13 (medium): the r13 single-pass rewrites rely on the
    subquery/input sort SURVIVING below the Python node — SQL gives no
    ordering guarantee for subqueries, and EliminateSorts could strip it
    on a Spark upgrade. Pin the plan shape in CI: for each rewritten
    builder the Python node sits ABOVE exactly one Sort + Exchange
    rangepartitioning, and no Sort/range-Exchange sits above the Python
    node (which would mean bounds sampling re-executes the Python pass
    — the r13 double-eval bug)."""
    cases = {
        "udf_arrow_map": "MapInArrow",
        "udtf_python_native": "ArrowEvalPythonUDTF",
        "fn_udf_sql_register": "ArrowEvalPython",
        "udf_pandas_iter": "ArrowEvalPython",
    }
    for key, node in cases.items():
        plan = _formatted_plan(spark, key)
        tree = _plan_tree(plan)
        py = _first_line(tree, node)
        sort = _first_line(tree, "Sort")
        exch = _first_line(tree, "Exchange")
        # tree line index grows toward the scan: the Python node must be
        # NEARER the root than the sort/exchange that orders its input
        assert py < sort < exch, (key, tree)
        # and nothing sorts/exchanges above the Python node
        assert not any(
            "Sort" in ln or "Exchange" in ln for ln in tree[:py]
        ), (key, tree)
        # the exchange under the sort is the deterministic-output
        # range-partitioning one
        assert "rangepartitioning(" in _node_arguments(plan, tree[exch]), (key, plan)


def test_checkpointed_python_stages_hide_python_below_the_sort(spark):
    """ADVICE r13 (medium), checkpoint-style rewrites: where sort keys do
    not pass through the Python stage (grouped map, Python scans) the r13
    fix materializes the kernel behind a lazy localCheckpoint — the final
    registered plan must be Sort over Scan ExistingRDD with NO Python
    node anywhere above it (range sampling then re-reads the checkpoint,
    never the Python pass)."""
    for key in (
        "udf_arrow_grouped",
        "src_python_datasource",
        "src_python_datasource_pushdown",
    ):
        plan = _formatted_plan(spark, key)
        tree = _plan_tree(plan)
        assert any("ExistingRDD" in ln for ln in tree), (key, tree)
        assert not any(
            ("Python" in ln) or ("MapInArrow" in ln) or ("Pandas" in ln)
            for ln in tree
        ), (key, tree)
        assert _first_line(tree, "Sort") < _first_line(tree, "Scan ExistingRDD"), (
            key,
            tree,
        )


def _poster_render(spark, **params):
    from week3_2_practice_big_data__spark.plans.generative import _composite_sql

    return spark.sql(_composite_sql("spark", canvas=64, **params))


def _job_shape(spark, group: str, df, run=lambda df: df.collect()) -> tuple[list[str], int]:
    """Run `df` once under a job group: the operators of its physical
    plan (one exact name per tree line, see _TREE_NODE) and the number of
    Spark jobs the run took."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run(df)
    finally:
        sc._jsc.clearJobGroup()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    nodes = [m.group(1) for m in map(_TREE_NODE.match, _plan_tree(plan)) if m]
    return nodes, len(sc.statusTracker().getJobIdsForGroup(group))


def test_poster_render_is_one_job_without_exchange(spark):
    """A 64 px poster edit is a gather: generators and projections over
    the one-row scene, so the final plan has no exchange, no aggregate
    and no join, and the render runs as exactly one Spark job."""
    nodes, jobs = _job_shape(
        spark, "test-poster-render-shape",
        _poster_render(spark, seed=7, nb=9, lx="0.4e0", ly="-0.7e0", theme="warm"),
    )
    assert not any(n.endswith("Exchange") for n in nodes), nodes
    assert not any("Aggregate" in n for n in nodes), nodes
    assert not any("Join" in n for n in nodes), nodes
    assert jobs == 1


def test_poster_shadow_render_is_one_job_without_exchange(spark):
    """A shadow edit is the same gather: the mask, both blur passes and
    the offset sample are array work on the scene's blobs, so there is no
    exchange, no join and no window, and the render is one Spark job."""
    nodes, jobs = _job_shape(
        spark, "test-poster-shadow-shape",
        _poster_render(
            spark, seed=31, nb=9, lx="0.9e0", ly="-0.1e0", theme="cool",
            blur_strength=0.05,
        ),
    )
    assert not any(n.endswith("Exchange") for n in nodes), nodes
    assert not any("Join" in n for n in nodes), nodes
    assert not any("Window" in n for n in nodes), nodes
    assert jobs == 1


def test_poster_edits_reuse_compiled_code(spark):
    """The UI parameters are data, so an edit at the same canvas generates
    the same Java source: after one render, renders with another seed,
    light, theme and blob count compile nothing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    _poster_render(spark, seed=42, nb=14, lx="-0.6e0", ly="0.8e0").collect()
    before = compiles.getCount()
    edit = dict(seed=1234, lx="0.8e0", ly="0.6e0", theme="cool")
    _poster_render(spark, nb=14, **edit).collect()
    _poster_render(spark, nb=20, **edit).collect()
    assert compiles.getCount() == before


def _generate_outputs(df) -> list[list[str]]:
    """The output column names of each Generate node of `df`'s physical
    plan: the child columns it copies into every row it emits, then the
    columns it generates."""
    outputs, todo = [], [df._jdf.queryExecution().sparkPlan()]
    while todo:
        node = todo.pop()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        if node.nodeName() == "Generate":
            attrs = node.output()
            outputs.append([attrs.apply(i).name() for i in range(attrs.size())])
    return outputs


def test_per_pixel_generators_do_not_carry_edges(spark):
    """The per-pixel poster keys read the composite's raster rows, where a
    blob's hit on a row holds the row's crossings in place of the blob's
    280 edges: none of their Generate nodes emits `edges`, so no raster-row
    or pixel row carries the array."""
    for key in (
        "filt_point_in_polygon", "filt_pip_scanline", "filt_mask_apply",
        "win_conv2d_separable", "udf_rowwise_lambda", "udf_geom_contains",
        "udf_grouped_map_render",
    ):
        outputs = _generate_outputs(REGISTRY[key].builder(spark, SF_SMALL))
        assert len(outputs) >= 3, (key, outputs)  # raster rows, hits, pixels
        assert not any("edges" in names for names in outputs), (key, outputs)


def test_custom_state_sink_read_is_one_job_without_exchange(spark):
    """stream_custom_state reads its update-mode memory sink as one
    partition (streams._sink), so the window and the sort above the sink's
    LocalTableScan run locally: the plan has no exchange, and toPandas
    runs exactly one Spark job."""
    nodes, jobs = _job_shape(
        spark, "test-custom-state-sink-read",
        REGISTRY["stream_custom_state"].builder(spark, SF_SMALL),
        run=lambda df: df.toPandas(),
    )
    for node in ("LocalTableScan", "Coalesce", "Window", "Sort"):
        assert node in nodes, (node, nodes)
    assert not any(n.endswith("Exchange") for n in nodes), nodes
    assert jobs == 1
