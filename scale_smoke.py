#!/usr/bin/env python
"""N× scale smoke (SURVEY §9 evidence): derive a scaled lineitem/orders/
documents/embeddings by unioning the sf0.1 tables N× with shifted keys
(repo .tmp scratch; the driver's read-only testdata is never touched),
symlink the unscaled tables beside them, and run headline relational keys
at both scales. The point is the RATIO: a plan that survives N× with
~linear wall growth has no hidden quadratic or skew pathology. Prints one
JSON line.

N comes from $SPARK_GRAFT_SCALE_FACTOR (default 10). The r4 campaign runs
the ladder 10× AND 100× (100× of sf0.1 ≈ 60 M lineitem rows, ~sf10): a
healthy plan shows ≤ ~2× wall growth per 10× step on this 32-thread box
once fixed overhead amortizes.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F

from week3_2_practice_big_data__spark import REGISTRY, get_spark, load_table
from week3_2_practice_big_data__spark.io import TABLES

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTOR = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
# timed runs per (key, scale); the 100× ladder uses 2 to fit one session
RUNS = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))
KEYS = [
    "agg_groupby_multi",
    "join_inner_equi",
    "join_q5_region_volume",
    "agg_q18_large_orders",
    "win_running_agg",
    "iter_gd_logreg",
    # r5: events now scales too (disjoint user populations per replica,
    # same time span), so the global-window and session paths carry real
    # scale evidence instead of the 1.0× an unscaled table reported.
    "stream_tumbling_agg",
    "stream_session_window",
    # r5: hierarchical global-window scale paths (vs the single-partition
    # originals: islands 0.93× vs 10.5×, ntile 9.8× vs 89× at 100×)
    "win_islands_blocked",
    "win_ntile_blocked",
    # r6: the corpus-tier keys moved onto the blocked decomposition —
    # their ladder ratios are the evidence the global-sort cliff is gone
    "ns_text_perplexity",
    "ns_sample_importance",
    # NS family over the 10x-duplicated corpus: each text appears 10x, so
    # the dedup keys must FIND ~45 extra pairs per duplicate group — this
    # measures the candidate-bounded plans under real duplicate pressure,
    # not just bigger row counts.
    "ns_dedup_exact",
    "ns_dedup_minhash",
    "ns_text_tfidf",
    "ns_sim_ann_lsh",
    # scale-derived band width (b=⌈log₂ n⌉): the 10× corpus must show
    # ~linear candidate growth, not the fixed-width quadratic collapse.
    "ns_dedup_embed_cosine",
    # rep-level dominance: within-cell pairwise is Σ|rep-cell|², so the
    # 10× duplicated corpus costs the same as the base.
    "ns_semdedup",
    # r5: rep-collapsed (was 2.3× at 10× dup, with duplication-inflated
    # span df silently pruning real pairs past the df ≤ 50 cap; spans now
    # index distinct TEXTS, member expansion is output-bound).
    "ns_dedup_substring",
    # r4: rep-collapsed (was 12.2× at 10× dup vector-level; now ~1×)
    "ns_dedup_simhash",
    # r6 second session: URL canon dedup (map-side + hash groupBy), stride
    # chunker (map-side explode), and the sketch-accelerated-exact pair
    # (bloom mask broadcast; CMS bounded-cell shuffle — its ~3.6× ratio is
    # three stream-linear map passes, see SURVEY §8.6)
    "ns_dedup_url",
    "ns_chunk_overlap",
    "ns_decontaminate_bloom",
    "agg_sketch_cms_heavy",
    # r7 (VERDICT r6 item 1): the five r6 keys that shipped without a
    # ladder row. CEP + seasonal ride the events ladder (CEP: N× disjoint
    # users through the single (user_id, ts) window shuffle; seasonal:
    # N× rows per day through the partial-agg daily groupBy, windows stay
    # on the ~30-row calendar summary). Classifier rides the duplicated
    # corpus (pure map-side scoring). Evolution/compaction rewrite the
    # scaled orders/events through their scratch layouts — data-linear
    # parallel IO passes, the ratio checks nothing serializes.
    "win_event_pattern_cep",
    "ts_seasonal_decompose",
    "ns_quality_classifier",
    "src_schema_evolution",
    "sink_compact_small_files",
    # r7: corpus-wide BPE application — the duplicated corpus leaves the
    # distinct vocab (and the whole training chain) unchanged; only the
    # map-side explode + broadcast join + doc aggregate grow with N.
    "ns_bpe_encode",
    # r7: the deepest star (7 broadcast joins over N× lineitem/orders)
    # and the decorrelated sole-late-supplier double aggregate
    "join_q8_market_share",
    "join_q21_waiting_supplier",
    # r7 second session: the last four TPC-H shapes — q9 is the heavy
    # profit star (4 broadcast dims + the lineitem⋈orders shuffle), q11
    # re-aggregates N× lineitem into the bounded partval view, q20 runs
    # the grouped-HAVING semi-join chain over N× lineitem
    "join_q9_product_profit",
    "agg_q11_important_stock",
    "join_q20_promo_suppliers",
    # r7 second session: blocked global permutation over the N× corpus
    # (the claim under test: no single-partition sort ⇒ ~linear wall)
    # and the single-scan mixture planner
    "ns_global_shuffle",
    "ns_mixture_epochs",
    # r7 third session: ACF/drawdown ride the events ladder (ACF work is
    # one groupBy into the calendar-bounded summary; drawdown is the
    # incremental-frame window over N× disjoint users), jaccard rides
    # the duplicated lineitem (N× edges through the per-part pair join)
    "ts_autocorr",
    "ts_max_drawdown",
    "graph_bipartite_jaccard",
    "ts_cross_corr",
    # r7 fourth session: RA weights ride the same duplicated-lineitem
    # edge ladder as jaccard (degree join is |parts|-sized, broadcast);
    # allocation rides N× orders through its single custkey exchange;
    # drift rides N× events through the two histogram passes
    "graph_resource_alloc",
    "win_budget_allocation",
    "dq_distribution_drift",
    # N× duplicated events leave the distinct (type, user) cohort
    # relation unchanged — the sketch should be duplication-invariant
    "agg_sketch_kmv_intersect",
    # r7 fifth session: BM25 rides the duplicated corpus — tf/df/doclen
    # are single groupBy passes over the N× token stream, the query
    # table stays 12 rows (broadcast), candidate volume is Σ df(term)
    "ns_text_bm25",
    # r7 fifth session: clustering coeff rides the duplicated corpus
    # (the distinct edge list — and so the whole triangle chain — is
    # duplication-invariant); the stump rides N× events through the one
    # histogram pass (384-cell shuffle regardless of N). ml_knn_classify
    # is deliberately NOT laddered, like ns_ann_knn_join: replicated
    # embeddings grow the query batch AND the corpus together (N² pair
    # volume by construction) — the unbounded-query scale path is the
    # IVF probe, measured via ns_sim_ann_ivf.
    "graph_clustering_coeff",
    "ml_decision_stump",
    # r7 fifth session second batch: attribution rides N× events through
    # the one user window (disjoint user replicas — the CEP posture);
    # degree distribution rides the duplicated corpus (edge list and
    # histogram both duplication-invariant)
    "win_attribution",
    "graph_degree_distribution",
    # the gains table rides N× events through its two stream-linear
    # passes — the drift/stump posture, 16-cell tail at any N
    "ml_lift_gains",
    # freshness: two stream-linear passes into a |types|-row summary;
    # rowcount anomaly: one pass into the calendar-bounded daily summary
    "dq_freshness",
    "dq_rowcount_anomaly",
    # ALS rides N× lineitem/orders: each half-step is one equi-join +
    # groupBy into entity-sized factor relations — edge-linear like the
    # graph family, never a user × item product
    "iter_als_rank2",
    # markov rides N× disjoint users through the one lead() window;
    # survival rides the same ladder through its two passes into the
    # calendar-bounded lifetime summary
    "win_markov_transitions",
    "win_survival_km",
    # r8: multi-source BFS rides the duplicated lineitem — the DISTINCT
    # part–supplier edge list (and so every frontier round) is
    # duplication-invariant like the jaccard/RA pair
    "iter_bfs_sssp",
    # r8: ABC classification rides N× lineitem — the per-part aggregate is
    # one groupBy, revenue magnitudes grow ×N but the log2 bucket summary
    # stays <= 64 rows (the fixed-width-bucket alternative would grow
    # with the value range); curriculum rides the duplicated corpus
    # through one map-side score + the value-bounded bucket windows
    "win_pareto_abc",
    "ns_curriculum_order",
    # r8: the rollup pyramid rides N x events through ONE partial-agg
    # groupBy into the calendar-bounded 10-min tier; the hour tier
    # re-shuffles only that summary
    "ts_rollup_multires",
    # r8: boosting rides N x events through the ONE shared histogram
    # pass (384-cell shuffle at any N; all boosting math is summary-sized)
    "ml_gbt_boost2",
    # r8: the rebuilt FULL composed pipeline rides the duplicated corpus —
    # every corpus-sized stage input is a relation already proven
    # duplication-collapsed (rep-collapsed MinHash pairs, distinct 5-gram
    # stream, token-stream groupBys); the three per-doc materializations
    # and the funnel/pack/shuffle tail grow with the KEEPER count, which
    # duplication leaves unchanged (extra copies die at the dedup stage).
    "ns_pipeline_e2e",
    # r9: k-means topic clustering rides the duplicated embeddings —
    # assignment is a pure projection, each round ONE partial-agg corpus
    # shuffle into the K×64 summary; duplicated vectors scale every
    # micro-unit sum and count by the same N, so the centroid divisions
    # (exact-int numerator/denominator pairs < 2^53) and therefore the
    # assignments are duplication-INVARIANT — wall is corpus-pass-linear
    "iter_kmeans_embed",
    # r9: vocab coverage rides the duplicated corpus through the shared
    # token stream (df vocab is type-bounded; coverage join broadcasts);
    # topic mixture rides embeddings+documents through the projection
    # assignment + one id equi-join. udf_arrow_map is deliberately NOT
    # here: a bijective per-row transform is output-LINEAR by
    # construction (the ml_knn_classify posture) — measured ~1.4M rows/s
    # through the Arrow kernel at 100x, sub-linear only in fixed costs.
    "ns_vocab_coverage",
    "ns_topic_mixture",
    # r10: observe/CollectMetrics rides N x events in ONE pass (the
    # metrics accumulate beside the rollup pipeline — zero extra scans,
    # the whole point of the API); the streaming twin and the composed
    # streaming e2e are NOT laddered (chunked-source per-batch fixed
    # costs dominate, the r8 streaming posture), and the fixed-N Python
    # stream source is scale-independent by construction.
    "dq_observe_metrics",
    # r10: applyInArrow over N x lineitem — the ladder watches the
    # per-GROUP Python invocation cost (~4-row l_orderkey groups mean
    # the group count, and so the kernel call count, grows with N; the
    # relational window derivation is the registered scale path, this
    # measures how far the API form carries)
    "udf_arrow_grouped",
]
# Scratch is keyed by the base dir so switching SPARK_GRAFT_SF_DIR can
# never reuse scaled data built from a different base.
_SCRATCH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    ".tmp",
    f"scale{FACTOR}_{os.path.basename(BASE_SF.rstrip('/'))}",
)


_SCALED_SET = "documents,embeddings,events,lineitem,orders"


def build_scaled(spark) -> str:
    # The marker RECORDS what was scaled: a scratch built by an older
    # script version (different scaled set / factor) must not be reused —
    # it would silently time unscaled tables and publish ~1.0 ratios.
    marker = os.path.join(_SCRATCH, "_DONE")
    stamp = f"{_SCALED_SET}@{FACTOR}"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return _SCRATCH
    import shutil

    shutil.rmtree(_SCRATCH, ignore_errors=True)
    os.makedirs(_SCRATCH, exist_ok=True)
    def times10(df, key_col, shift):
        parts = None
        for i in range(FACTOR):
            p = df.withColumn(key_col, F.col(key_col) + F.lit(i * shift))
            parts = p if parts is None else parts.unionAll(p)
        return parts

    # lineitem and orders MUST shift by the same amount or only copy 0
    # would join; the shared shift comes from the orders side (superset of
    # referenced keys).
    ok_shift = (
        load_table(spark, BASE_SF, "orders").agg(F.max("o_orderkey")).first()[0] + 1
    )
    doc_shift = (
        load_table(spark, BASE_SF, "documents").agg(F.max("doc_id")).first()[0] + 1
    )
    vec_shift = (
        load_table(spark, BASE_SF, "embeddings").agg(F.max("vec_id")).first()[0] + 1
    )
    # events: each replica is a DISJOINT user population over the SAME
    # time span (event_id and user_id shift, ts stays) — horizontal
    # growth, the shape a bigger deployment actually has. Window/session
    # keys then face N× partitions of unchanged per-user density, and
    # global tumbling windows face N× rows per window.
    ev = load_table(spark, BASE_SF, "events")
    ev_shift = ev.agg(F.max("event_id")).first()[0] + 1
    user_shift = ev.agg(F.max("user_id")).first()[0] + 1
    events_parts = None
    for i in range(FACTOR):
        p = ev.withColumn("event_id", F.col("event_id") + F.lit(i * ev_shift)).withColumn(
            "user_id", F.col("user_id") + F.lit(i * user_shift)
        )
        events_parts = p if events_parts is None else events_parts.unionAll(p)
    scaled = {
        "events": events_parts,
        "lineitem": times10(load_table(spark, BASE_SF, "lineitem"), "l_orderkey", ok_shift),
        "orders": times10(load_table(spark, BASE_SF, "orders"), "o_orderkey", ok_shift),
        # documents keep their TEXT on every copy — the 10x corpus carries
        # 10 exact duplicates of every document, the worst realistic load
        # for the dedup family; embeddings likewise duplicate vectors.
        "documents": times10(load_table(spark, BASE_SF, "documents"), "doc_id", doc_shift),
        "embeddings": times10(load_table(spark, BASE_SF, "embeddings"), "vec_id", vec_shift),
    }
    for name, df in scaled.items():
        df.write.mode("overwrite").parquet(os.path.join(_SCRATCH, f"{name}.parquet"))
    for name in TABLES:
        if name in scaled:
            continue
        dst = os.path.join(_SCRATCH, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE_SF, f"{name}.parquet"), dst)
    with open(marker, "w") as f:
        f.write(stamp)
    return _SCRATCH


# Per-user-window keys stressed by the skew ladder (VERDICT r6 item 7):
# the uniform ladder replicates DISJOINT user populations, so every
# per-user partition keeps base density; real deployments have power-law
# users. The skew build gives ONE user ~10% of ALL events at N×.
_SKEW_KEYS = [
    "win_event_pattern_cep",
    "stream_session_window",
    "win_running_agg",
    # r7: the other two members of the O(n²) suffix-frame class found by
    # this ladder (rewritten to reverse-sorted running frames)
    "join_asof_nearest",
    "win_interpolate_gaps",
    # r7 third session: both frames are the incremental O(n) class, so
    # the hot user costs one long in-partition sort, nothing quadratic
    "ts_max_drawdown",
    # r7 fifth session: both attribution context columns are PRECEDING
    # frames (incremental) — the hot user is one long sorted partition
    "win_attribution",
    # lead() is a 1-row frame; the hot user costs one in-partition sort
    "win_markov_transitions",
    # r10 second session: lag() gap window — the same incremental 1-row
    # frame class; the hot user is one long sorted partition
    "fn_interval_agg",
]


def build_skewed(spark) -> str:
    """N× events where the first ~N/10 replicas collapse onto ONE hot
    user (user_id = -1, ~10% of all rows) and the rest stay disjoint —
    same total rows as the uniform ladder, so wall(skew)/wall(uniform)
    isolates the straggler cost of the hot user's window partition."""
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".tmp",
        f"skew{FACTOR}_{os.path.basename(BASE_SF.rstrip('/'))}",
    )
    marker = os.path.join(scratch, "_DONE")
    stamp = f"events-skew@{FACTOR}"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return scratch
    import shutil

    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)
    ev = load_table(spark, BASE_SF, "events")
    ev_shift = ev.agg(F.max("event_id")).first()[0] + 1
    user_shift = ev.agg(F.max("user_id")).first()[0] + 1
    utype = ev.schema["user_id"].dataType
    hot = max(1, FACTOR // 10)
    parts = None
    for i in range(FACTOR):
        p = ev.withColumn("event_id", F.col("event_id") + F.lit(i * ev_shift))
        if i < hot:
            p = p.withColumn("user_id", F.lit(-1).cast(utype))
        else:
            p = p.withColumn("user_id", F.col("user_id") + F.lit(i * user_shift))
        parts = p if parts is None else parts.unionAll(p)
    parts.write.mode("overwrite").parquet(os.path.join(scratch, "events.parquet"))
    for name in TABLES:
        if name == "events":
            continue
        dst = os.path.join(scratch, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE_SF, f"{name}.parquet"), dst)
    with open(marker, "w") as f:
        f.write(stamp)
    return scratch


def _resolve_keys(default: list[str], ladder: str) -> list[str]:
    """Resolve the SPARK_GRAFT_SCALE_KEYS override. A typo must be loud,
    not a silently-shrunk ladder that still reports success (ADVICE
    r10); keys outside the ladder's default set run but are announced —
    they may not carry the ladder's established semantics."""
    subset = os.environ.get("SPARK_GRAFT_SCALE_KEYS")
    if not subset:
        return default
    requested = [k for k in subset.split(",") if k]
    unknown = [k for k in requested if k not in REGISTRY]
    if unknown:
        raise SystemExit(
            f"SPARK_GRAFT_SCALE_KEYS contains unregistered keys: {unknown}"
        )
    extra = [k for k in requested if k not in default]
    if extra:
        print(
            f"note: {len(extra)} requested keys are outside {ladder}'s "
            f"default set: {extra}",
            file=sys.stderr,
        )
    print(f"{ladder} keys: {requested}", file=sys.stderr)
    return requested


def skew_ladder(spark) -> dict:
    uniform = build_scaled(spark)
    skewed = build_skewed(spark)
    report = {}
    keys = _resolve_keys(_SKEW_KEYS, "skew_ladder")
    for key in keys:
        for sf_dir in (uniform, skewed):  # warm both paths
            run_once(spark, key, sf_dir)
        u = statistics.median(run_once(spark, key, uniform) for _ in range(RUNS))
        s = statistics.median(run_once(spark, key, skewed) for _ in range(RUNS))
        report[key] = {
            "uniform_s": round(u, 3),
            "skew_s": round(s, 3),
            "ratio": round(s / u, 2),
        }
    return report


def skewjoin_ladder(spark) -> dict:
    """AQE skew-join split, measured on the standing r13 skew fixture
    (gen_skew: one part key holds ~10% of 6M lineitems — a ~600k-row hot
    shuffle partition). The same hot-key sort-merge join (lineitem ⋈
    part on l_partkey → revenue per brand; broadcast disabled to pin the
    SMJ shape) runs with AQE's skewJoin ON vs OFF and the split is
    confirmed in the final adaptive plan ("skew=true" on the SMJ node).
    Thresholds are scaled to fixture size (4 MB skewed-partition
    threshold / 2 MB advisory target vs the 256 MB / 64 MB production
    defaults): at the 100 TB target the hot partition is hundreds of GB
    and the DEFAULTS fire; at 6 M rows nothing reaches 256 MB, so the
    scaled thresholds exercise the identical code path at fixture scale.
    The registry's manual-salting twin (join_salted_skew) is timed on
    the same fixture for reference — AQE-off vs AQE-skew-split vs
    pre-salted is exactly the decision a 100 TB deployment tunes."""
    import gen_skew

    skew_dir = gen_skew.build(spark)
    # Wide projection through the shuffle (all the money columns + dates)
    # so the hot partition is tens of MB at fixture scale; and 200
    # shuffle partitions, NOT the tuned 32: with 32 partitions the hot
    # key lands at ~4.5x the median partition — BELOW the skew factor
    # (5x) — and the splitter correctly stays off. That is itself the
    # measured lesson: coarse partitioning hides skew from AQE's
    # detector (hot/median ≈ (h + (1-h)/P) / ((1-h)/P) grows with P).
    q = (
        "SELECT p.p_brand, "
        "CAST(sum(CAST(l.l_extendedprice * 100 AS BIGINT)) AS BIGINT) "
        "AS rev_c, "
        "CAST(sum(CAST(l.l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty_c, "
        "CAST(sum(CAST(l.l_discount * 100 AS BIGINT)) AS BIGINT) AS disc_c, "
        "CAST(sum(CAST(l.l_tax * 100 AS BIGINT)) AS BIGINT) AS tax_c, "
        "min(l.l_shipdate) AS d0, max(l.l_shipdate) AS d1, "
        "count(*) AS n "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
        "GROUP BY p.p_brand"
    )

    def run_joined() -> float:
        for t in ("lineitem", "part"):
            spark.read.parquet(
                os.path.join(skew_dir, f"{t}.parquet")
            ).createOrReplaceTempView(t)
        df = spark.sql(q)
        start = time.perf_counter()
        df.collect()  # ~25 brand groups — bounded; and unlike the noop
        # write sink, collect executes THIS Dataset's QueryExecution, so
        # the inspected plan is the final adaptive one (isFinalPlan=true
        # with the skew=true SMJ marker; the write path runs a separate
        # execution whose plan the Dataset handle never sees).
        wall = time.perf_counter() - start
        plan = df._jdf.queryExecution().executedPlan().toString()
        return wall, "skew=true" in plan

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "200",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    saved["spark.sql.adaptive.skewJoin.enabled"] = spark.conf.get(
        "spark.sql.adaptive.skewJoin.enabled", "true"
    )
    report = {}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for mode, enabled in (("skewjoin_on", "true"), ("skewjoin_off", "false")):
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", enabled)
            run_joined()  # warm
            samples = [run_joined() for _ in range(RUNS)]
            report[mode] = {
                "wall_s": round(statistics.median(w for w, _ in samples), 3),
                "skew_split_in_plan": any(s for _, s in samples),
            }
        # manual-salting twin on the same fixture, default confs
        for k, v in confs.items():
            if saved[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, saved[k])
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled",
            saved["spark.sql.adaptive.skewJoin.enabled"],
        )
        run_once(spark, "join_salted_skew", skew_dir)  # warm
        report["join_salted_skew"] = {
            "wall_s": round(
                statistics.median(
                    run_once(spark, "join_salted_skew", skew_dir)
                    for _ in range(RUNS)
                ),
                3,
            )
        }
    finally:
        for k in confs:
            if saved[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, saved[k])
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled",
            saved["spark.sql.adaptive.skewJoin.enabled"],
        )
    report["ratio_off_over_on"] = round(
        report["skewjoin_off"]["wall_s"] / report["skewjoin_on"]["wall_s"], 2
    )
    return report


def run_once(spark, key: str, sf_dir: str) -> float:
    start = time.perf_counter()
    REGISTRY[key].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start


def mm_ladder(spark) -> dict:
    """Multimodal N× ladder (VERDICT r5 item 6): the mm keys render a
    fixed 6-poster set internally, so sf scaling never exercises them.
    Here the rendered posters are replicated FACTOR× (byte-identical
    copies, fresh blob_ids — the duplicate-heavy media-corpus shape) and
    each mapInPandas pipeline is timed on base vs replicated input. The
    render itself is checkpointed out of the timing. Audio scales its
    track count instead (no poster input)."""
    from week3_2_practice_big_data__spark.functions import multimodal as mm
    from week3_2_practice_big_data__spark.functions.multimodal import _AUDIO_TRACKS
    from week3_2_practice_big_data__spark.session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    posters = mm._posters(spark, BASE_SF).localCheckpoint(eager=True)
    rep = spark.range(FACTOR).withColumnRenamed("id", "replica")
    scaled_posters = (
        posters.crossJoin(rep)
        .withColumn("blob_id", F.col("blob_id") + F.col("replica") * 1000)
        .drop("replica")
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    pipes = {
        "mm_decode_meta": mm.decode_meta_pipeline,
        "mm_feature": mm.feature_pipeline,
        "mm_resize": mm.resize_pipeline,
        "mm_frame_sample": mm.frame_sample_pipeline,
        "mm_scene_cut": mm.scene_cut_pipeline,
        "mm_image_phash": lambda p: mm.phash_pipeline(spark, p),
        "mm_pipeline_e2e": lambda p: mm.mm_pipeline_e2e(spark, p),
        "mm_audio_window": None,  # track-count scaling, handled below
    }

    def timed(build) -> float:
        build().write.format("noop").mode("overwrite").save()  # warm
        return statistics.median(
            _noop_time(build) for _ in range(RUNS)
        )

    def _noop_time(build) -> float:
        start = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - start

    report = {}
    for name, pipe in pipes.items():
        if name == "mm_audio_window":
            base = timed(lambda: mm.audio_pipeline(spark, _AUDIO_TRACKS))
            big = timed(lambda: mm.audio_pipeline(spark, _AUDIO_TRACKS * FACTOR))
        else:
            base = timed(lambda: pipe(posters))
            big = timed(lambda: pipe(scaled_posters))
        report[name] = {
            "base_s": round(base, 3),
            f"x{FACTOR}_s": round(big, 3),
            "ratio": round(big / base, 2),
        }
    return report


_STREAM_LADDER_KEYS = ["stream_watermark_late", "stream_pipeline_e2e"]


def streaming_ladder(spark) -> dict:
    """VERDICT r10 item 6: drive the REAL streaming topologies (not the
    batch twins) at FACTOR× events and record throughput and state size.

    - Both keys run their registered builders against the scaled events
      (chunked file source → watermarked stateful query →
      processAllAvailable), timed on the SECOND run so the one-time
      chunk-source build is excluded; rows/s = source events / wall.
    - State evidence: an instrumented run of the watermark-late topology
      captures the final progress's stateOperators (rows in the store,
      memory used) — the tumbling-window state is bounded by the TIME
      SPAN × event-type domain, not by row count, so it must stay flat
      at any FACTOR, while the session-window pipeline's state scales
      with the user population (disjoint per replica). The pipeline
      key's on-disk checkpoint (its pid-keyed run dir) sizes the
      RocksDB/HDFS state files a deployment would provision for.
    """
    from week3_2_practice_big_data__spark.streaming import streams as st

    scaled = build_scaled(spark)
    report = {}
    for key in _resolve_keys(_STREAM_LADDER_KEYS, "streaming_ladder"):
        report[key] = {}
        for tag, sf_dir in (("base", BASE_SF), (f"x{FACTOR}", scaled)):
            n_events = load_table(spark, sf_dir, "events").count()
            run_once(spark, key, sf_dir)  # build chunk source + warm
            wall = run_once(spark, key, sf_dir)
            report[key][tag] = {
                "events": n_events,
                "wall_s": round(wall, 2),
                "events_per_s": int(n_events / wall),
            }
            if key == "stream_pipeline_e2e":
                run_dir = os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    ".tmp",
                    f"spe2e_run_{os.path.basename(sf_dir.rstrip('/'))}"
                    f"_{os.getpid()}",
                )
                state_dir = os.path.join(run_dir, "ckpt", "state")
                size = 0
                for root, _dirs, files in os.walk(state_dir):
                    size += sum(
                        os.path.getsize(os.path.join(root, f)) for f in files
                    )
                report[key][tag]["ckpt_state_bytes"] = size
        b = report[key]["base"]
        x = report[key][f"x{FACTOR}"]
        report[key]["wall_ratio"] = round(x["wall_s"] / b["wall_s"], 2)
        report[key]["throughput_ratio"] = round(
            x["events_per_s"] / b["events_per_s"], 2
        )
    # Instrumented wm topology: hold the query handle to read the final
    # state-operator metrics at both scales.
    for tag, sf_dir in (("base", BASE_SF), (f"x{FACTOR}", scaled)):
        ev = load_table(spark, sf_dir, "events")
        src = st._chunked_source(spark, sf_dir, "wm", dup_first=0)
        writer = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .withWatermark("ts", st._WATERMARK)
            .groupBy(F.window("ts", "600 seconds"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .outputMode("append")
        )
        with st._query(spark, writer) as query:
            query.processAllAvailable()
            ops = (query.lastProgress or {}).get("stateOperators", [])
            report.setdefault("wm_state_metrics", {})[tag] = [
                {
                    "operator": op.get("operatorName"),
                    "state_rows": op.get("numRowsTotal"),
                    "state_mem_bytes": op.get("memoryUsedBytes"),
                }
                for op in ops
            ]
    return report


def rocksdb_ladder(spark) -> dict:
    """VERDICT r11 item 5: size the composed pipeline's state story at
    FACTOR× under the RocksDB state store provider.

    The r11 streaming ladder measured stream_pipeline_e2e's on-disk
    checkpoint state growing ~linearly with the user population (6.6 MB
    base → 649 MB at 100× — expected for session+dedup state). The 100 TB
    mitigation is the state BACKEND, not the topology: with the default
    HDFS-backed provider every state row is an executor-heap object, so
    provisioning tracks total state; with RocksDBStateStoreProvider the
    full state lives in native RocksDB (memtable + SST files on local
    disk) and only a bounded block-cache/memtable working set is
    memory-resident, with changelog checkpointing shipping per-batch
    deltas instead of full snapshots.

    This ladder runs ONE life of the stream_pipeline_e2e topology
    (watermark → dropDuplicatesWithinWatermark → observe → session_window
    → parquet sink; the state-heaviest composition in the registry) over
    base and FACTOR× events under BOTH providers and records, per run:
      - wall seconds and events/s;
      - per stateful operator (dedup + session agg), from the final
        progress: numRowsTotal, memoryUsedBytes, and the RocksDB
        customMetrics that split memory-resident from on-disk state
        (rocksdbTotalMemoryUsage vs rocksdbSstFileSize / pinned-block
        usage);
      - the watermark-eviction curve: per-batch numRowsTotal across the
        run (peak vs final — eviction bounds steady-state rows while
        input volume grows 100×);
      - on-disk checkpoint state bytes (walked from ckpt/state).
    """
    from week3_2_practice_big_data__spark.streaming import streams as st

    scaled = build_scaled(spark)
    report = {}
    for tag, sf_dir in (("base", BASE_SF), (f"x{FACTOR}", scaled)):
        ev = load_table(spark, sf_dir, "events")
        src = st._chunked_source(spark, sf_dir, "spe2e", dup_first=100, sentinels=2)
        # ADVICE r12: the throughput denominator counts the rows the
        # query ACTUALLY processes — the chunked replay adds dup_first
        # duplicates + sentinel rows on top of the base table, so count
        # the source dir, not the base table.
        n_events = (
            spark.read.schema(ev.schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .count()
        )
        for provider, confs in (("hdfs", {}), ("rocksdb", st._ROCKSDB_CONFS)):
            base_dir = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                ".tmp",
                f"rdbladder_{provider}_{os.path.basename(sf_dir.rstrip('/'))}"
                f"_{os.getpid()}",
            )
            import shutil

            shutil.rmtree(base_dir, ignore_errors=True)
            sink = os.path.join(base_dir, "data")
            ckpt = os.path.join(base_dir, "ckpt")
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(src)
            )
            writer = (
                st._pipeline_e2e_transform(stream)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
            )
            start = time.perf_counter()
            with st._query(spark, writer, confs=confs) as query:
                query.processAllAvailable()
                wall = time.perf_counter() - start
                progresses = [p for p in query.recentProgress if p]
            # Per-batch state-row curve (watermark eviction evidence) and
            # the final batch's full operator metrics.
            curve = []
            for p in progresses:
                ops = p.get("stateOperators") or []
                if ops:
                    curve.append(
                        {
                            "batch": p.get("batchId"),
                            "rows_per_op": [op.get("numRowsTotal") for op in ops],
                            "mem_per_op": [op.get("memoryUsedBytes") for op in ops],
                        }
                    )
            final_ops = []
            for p in reversed(progresses):
                ops = p.get("stateOperators") or []
                if ops:
                    for op in ops:
                        custom = op.get("customMetrics") or {}
                        final_ops.append(
                            {
                                "operator": op.get("operatorName"),
                                "state_rows": op.get("numRowsTotal"),
                                "state_mem_bytes": op.get("memoryUsedBytes"),
                                "custom": {
                                    k: v
                                    for k, v in custom.items()
                                    if not k.startswith("SnapshotLastUploaded")
                                    and (
                                        "Memory" in k
                                        or "Size" in k
                                        or "Bytes" in k
                                        or "Changelog" in k
                                    )
                                },
                            }
                        )
                    break
            state_dir = os.path.join(ckpt, "state")
            disk = 0
            for root, _dirs, files in os.walk(state_dir):
                disk += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            peak = max((max(c["rows_per_op"]) for c in curve), default=0)
            final_rows = curve[-1]["rows_per_op"] if curve else []
            report.setdefault(tag, {})[provider] = {
                "events": n_events,
                "wall_s": round(wall, 2),
                "events_per_s": int(n_events / wall),
                "ckpt_state_bytes": disk,
                "state_rows_peak": peak,
                "state_rows_final_per_op": final_rows,
                "final_operators": final_ops,
                "rows_curve": curve,
            }
            shutil.rmtree(base_dir, ignore_errors=True)
    return report


def main() -> None:
    spark = get_spark("w32bd-scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    # MM-only mode: SPARK_GRAFT_SCALE_MM=1 runs the poster-replication
    # ladder instead of the sf-table ladder.
    # Skew mode: SPARK_GRAFT_SCALE_SKEW=1 runs the hot-user ladder
    # (uniform N× vs one-user-holds-10% N×, same total rows).
    if os.environ.get("SPARK_GRAFT_SCALE_SKEWJOIN"):
        report = skewjoin_ladder(spark)
        print(json.dumps({"metric": "skewjoin_aqe", "queries": report}))
        return
    if os.environ.get("SPARK_GRAFT_SCALE_SKEW"):
        report = skew_ladder(spark)
        print(
            json.dumps(
                {
                    "metric": f"skew{FACTOR}_ratio",
                    "factor": FACTOR,
                    "hot_fraction": max(1, FACTOR // 10) / FACTOR,
                    "queries": report,
                    "max_ratio": max(r["ratio"] for r in report.values()),
                }
            )
        )
        return
    if os.environ.get("SPARK_GRAFT_SCALE_ROCKSDB"):
        report = rocksdb_ladder(spark)
        print(
            json.dumps(
                {
                    "metric": f"rocksdb_state_scale{FACTOR}",
                    "factor": FACTOR,
                    "queries": {"stream_pipeline_e2e": report},
                }
            )
        )
        return
    if os.environ.get("SPARK_GRAFT_SCALE_STREAMING"):
        report = streaming_ladder(spark)
        print(
            json.dumps(
                {
                    "metric": f"streaming_scale{FACTOR}",
                    "factor": FACTOR,
                    "queries": report,
                }
            )
        )
        return
    if os.environ.get("SPARK_GRAFT_SCALE_MM"):
        report = mm_ladder(spark)
        print(
            json.dumps(
                {
                    "metric": f"mm_scale{FACTOR}_ratio",
                    "factor": FACTOR,
                    "queries": report,
                    "max_ratio": max(r["ratio"] for r in report.values()),
                }
            )
        )
        return
    scaled = build_scaled(spark)
    # Optional subset (comma-separated keys): the 100× ladder runs in
    # chunks to fit session timeouts.
    keys = _resolve_keys(KEYS, "scale_ladder")
    report = {}
    for key in keys:
        for sf_dir in (BASE_SF, scaled):  # warm both paths
            run_once(spark, key, sf_dir)
        base = statistics.median(run_once(spark, key, BASE_SF) for _ in range(RUNS))
        big = statistics.median(run_once(spark, key, scaled) for _ in range(RUNS))
        report[key] = {
            "base_s": round(base, 3),
            f"x{FACTOR}_s": round(big, 3),
            "ratio": round(big / base, 2),
        }
    print(
        json.dumps(
            {
                "metric": f"scale{FACTOR}_ratio",
                "factor": FACTOR,
                "base_sf_dir": BASE_SF,
                "queries": report,
                "max_ratio": max(r["ratio"] for r in report.values()),
            }
        )
    )


if __name__ == "__main__":
    main()
