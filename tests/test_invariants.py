"""Semantic invariants of the round-2 extension operators (SURVEY §5.2.3).

Oracle parity proves Spark == DuckDB; these assert the answers are also
RIGHT — bounds, conservation, and internal consistency a correct
implementation cannot violate regardless of data.
"""

from __future__ import annotations

import pytest

from week3_2_practice_big_data__spark import REGISTRY

from .conftest import SF_SMALL


def test_histogram_conserves_rows_and_orders_buckets(spark):
    rows = REGISTRY["agg_histogram"].builder(spark, SF_SMALL).collect()
    assert sum(r["n"] for r in rows) == 1500  # every order lands in a bucket
    buckets = [r["bucket"] for r in rows]
    assert buckets == sorted(buckets) and buckets[0] >= 0 and buckets[-1] <= 19
    los = [r["bucket_lo"] for r in rows]
    assert los == sorted(los)


def test_interpolation_preserves_observed_and_bounds_filled(spark):
    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark.io import load_table

    rows = REGISTRY["win_interpolate_gaps"].builder(spark, SF_SMALL).collect()
    raw = {
        r["event_id"]: r["value"]
        for r in load_table(spark, SF_SMALL, "events").select("event_id", "value").collect()
    }
    lo, hi = min(raw.values()), max(raw.values())
    kinds = {r["fill_kind"] for r in rows}
    assert kinds == {"observed", "interpolated", "edge"}
    for r in rows:
        if r["fill_kind"] == "observed":
            assert abs(r["v_filled"] - raw[r["event_id"]]) < 1e-6  # q6 only
        else:
            assert lo - 1e-6 <= r["v_filled"] <= hi + 1e-6


def test_quantize_error_bounded_by_half_step(spark):
    rows = REGISTRY["ns_embed_quantize"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 500
    for r in rows:
        assert -127 <= r["q_min"] <= r["q_max"] <= 127
        # worst-case per-dim rounding error is scale/2 → RMSE ≤ scale/2
        assert r["rmse"] <= r["scale_q6"] / 2 + 1e-6


def test_ewma_stays_within_user_value_range(spark):
    from week3_2_practice_big_data__spark.io import load_table

    per_user: dict[int, list[float]] = {}
    for r in load_table(spark, SF_SMALL, "events").select("user_id", "value").collect():
        per_user.setdefault(r["user_id"], []).append(r["value"])
    for r in REGISTRY["win_ewma_smooth"].builder(spark, SF_SMALL).collect():
        vals = per_user[r["user_id"]]
        assert min(vals) - 1e-6 <= r["ewma"] <= max(vals) + 1e-6


def test_paragraph_dedup_fractions_consistent(spark):
    for r in REGISTRY["ns_dedup_paragraph"].builder(spark, SF_SMALL).collect():
        assert 0 <= r["n_dup_chunks"] <= r["n_chunks"]
        assert 0.0 <= r["dup_chunk_frac"] <= 1.0
        assert r["keep"] == (r["dup_chunk_frac"] <= 0.5)


def test_scd2_versions_tile_timeline(spark):
    per_user: dict[int, list] = {}
    for r in REGISTRY["merge_scd2"].builder(spark, SF_SMALL).collect():
        per_user.setdefault(r["user_id"], []).append(r)
    for versions in per_user.values():
        # builder orders by (user, valid_from); versions must chain exactly
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] == b["valid_from"]  # half-open tiling
            assert not a["is_current"]
        assert versions[-1]["is_current"]


def test_repetition_filter_fraction_bounds(spark):
    rows = REGISTRY["ns_repetition_filter"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 500
    for r in rows:
        assert 0.0 <= r["dup_token_frac"] <= 1.0
        assert 0.0 < r["top_bigram_frac"] <= 1.0
        assert r["keep"] == (
            r["dup_token_frac"] <= 0.3 and r["top_bigram_frac"] <= 0.18
        )


def test_mad_thresholds_bite(spark):
    """The strict 3·1.4826·MAD count may legitimately be 0 on uniform-ish
    prices, but the 1-MAD count must be non-zero and bounded — proving the
    boundary comparison actually executes on both sides of the threshold."""
    for r in REGISTRY["agg_mad_robust"].builder(spark, SF_SMALL).collect():
        assert r["mad"] > 0
        assert 0 < r["n_beyond_mad"]
        assert r["n_outliers"] <= r["n_beyond_mad"]


def test_perplexity_terciles_balanced_and_bounded(spark):
    """Unigram NLL is positive (probabilities < 1); ntile(3) buckets split
    the corpus into near-equal head/middle/tail; bucket order follows the
    score (max head NLL <= min tail NLL)."""
    rows = REGISTRY["ns_text_perplexity"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 500
    by = {"head": [], "middle": [], "tail": []}
    for r in rows:
        assert r["nll"] > 0
        by[r["ppl_bucket"]].append(r["nll"])
    sizes = sorted(len(v) for v in by.values())
    assert sizes[2] - sizes[0] <= 1
    assert max(by["head"]) <= min(by["middle"]) <= max(by["middle"]) <= min(by["tail"])


def test_importance_sampling_rates_realized(spark):
    """Tier keep fractions must track the declared 100/50/10 percent rates
    (the affine hash is uniform mod 100), and tier 1 keeps everything."""
    rows = REGISTRY["ns_sample_importance"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 500
    kept = {1: [0, 0], 2: [0, 0], 3: [0, 0]}
    for r in rows:
        assert r["keep_pct"] == {1: 100, 2: 50, 3: 10}[r["tier"]]
        kept[r["tier"]][0] += int(r["keep"])
        kept[r["tier"]][1] += 1
    assert kept[1][0] == kept[1][1]  # 100% tier keeps all
    for tier, pct in ((2, 50), (3, 10)):
        n_keep, n = kept[tier]
        assert abs(n_keep / n - pct / 100) < 0.15, (tier, n_keep, n)


def test_semdedup_keeps_one_per_cell_minimum(spark):
    """Every nonempty cell keeps at least its lowest-id representative, and
    every vector appears exactly once."""
    rows = REGISTRY["ns_semdedup"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 500
    assert len({r["vec_id"] for r in rows}) == 500
    cells = {}
    for r in rows:
        cells.setdefault(r["cell"], []).append(r)
    for cell, members in cells.items():
        assert any(m["keep"] for m in members), f"cell {cell} kept nothing"
        assert min(m["vec_id"] for m in members) in {
            m["vec_id"] for m in members if m["keep"]
        }


def test_substring_pairs_are_ordered_and_positive(spark):
    rows = REGISTRY["ns_dedup_substring"].builder(spark, SF_SMALL).collect()
    assert len(rows) > 0  # near-dup corpus shares verbatim 8-token runs
    for r in rows:
        assert r["da"] < r["db"]
        assert r["n_shared_spans"] >= 1


def test_bpe_merge_supports_decrease(spark):
    """Greedy BPE: each merge consumes its pair's mass, so later rounds'
    top supports are strictly smaller; all supports positive."""
    rows = REGISTRY["iter_bpe_merges"].builder(spark, SF_SMALL).collect()
    assert [r["round"] for r in rows] == [1, 2, 3]
    counts = [r["pair_count"] for r in rows]
    assert all(c > 0 for c in counts)
    assert counts[0] >= counts[1] >= counts[2]


def test_reservoir_sample_is_per_source_k(spark):
    rows = REGISTRY["ns_sample_reservoir"].builder(spark, SF_SMALL).collect()
    per = {}
    for r in rows:
        per.setdefault(r["source"], set()).add(r["doc_id"])
        assert 1 <= r["rk"] <= 20
    assert all(len(v) == 20 for v in per.values())  # every source has >=20 docs


# Batch builders from eight families (graph, poster canvas/shadow, TPC-H,
# LLM prep, similarity, time series, quality) that set no session conf.
_CONCURRENT_KEYS = (
    "graph_bipartite_jaccard",
    "gen_poster_caption",
    "gen_poster_shadow",
    "join_q3_shipping_priority",
    "agg_q15_top_supplier",
    "ns_text_tfidf",
    "ns_domain_mix",
    "ns_sim_ann_lsh",
    "ts_cross_corr",
    "dq_rowcount_anomaly",
)


@pytest.mark.parametrize("key", _CONCURRENT_KEYS)
def test_batch_builders_concurrent_scale_factors(spark, key):
    """Two threads run one builder in one session on different scale
    factors: inputs and shared materializations are bound into each query
    with spark.sql(text, name=df), not published as views, so each result
    equals its own oracle and the session's temp views are unchanged."""
    from concurrent.futures import ThreadPoolExecutor

    from .conftest import SF_ORACLE
    from .oracle import compare, duck_run

    entry = REGISTRY[key]

    def temp_views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    def run(sf_dir: str) -> None:
        df = entry.builder(spark, sf_dir)
        compare(df, duck_run(entry.oracle, sf_dir), key=f"{key}:{sf_dir}")

    before = temp_views()
    with ThreadPoolExecutor(2) as pool:
        list(pool.map(run, (SF_SMALL, SF_ORACLE)))
    assert temp_views() == before


# Stream keys of three kinds: a Python stateful fold, a watermarked
# append window, and the same window on the RocksDB provider.
_CONCURRENT_STREAM_KEYS = (
    "stream_custom_state",
    "stream_watermark_late",
    "stream_rocksdb_state",
)


@pytest.mark.parametrize("key", _CONCURRENT_STREAM_KEYS)
def test_stream_builders_concurrent_scale_factors(spark, key):
    """Two threads run one stream builder in one session on different
    scale factors: each query has a name of its own and its confs are set
    only while it starts, so neither stops or reads the other's query,
    each result equals its own oracle, and afterwards no query is active,
    no sink view is left and the session confs read as before."""
    from concurrent.futures import ThreadPoolExecutor

    from .conftest import SF_ORACLE, stream_hygiene
    from .oracle import compare, duck_run

    entry = REGISTRY[key]

    def run(sf_dir: str) -> None:
        df = entry.builder(spark, sf_dir)
        compare(df, duck_run(entry.oracle, sf_dir), key=f"{key}:{sf_dir}")

    before = stream_hygiene(spark)
    with ThreadPoolExecutor(2) as pool:
        list(pool.map(run, (SF_SMALL, SF_ORACLE)))
    assert stream_hygiene(spark) == before


def test_build_once_single_winner_under_racing_builders():
    """ADVICE r2: concurrent scratch builds must never expose a partially
    built directory. Race 8 threads through build_once; every thread must
    return a directory whose marker is complete and whose payload is one
    builder's full output."""
    import os
    import shutil
    import tempfile
    import threading

    from week3_2_practice_big_data__spark.common import build_once

    root = tempfile.mkdtemp(prefix="bo_race_")
    out = os.path.join(root, "scratch")
    results = []

    def build(tmp: str) -> None:
        me = threading.current_thread().name
        for i in range(5):
            with open(os.path.join(tmp, f"f{i}.txt"), "w") as f:
                f.write(me)

    def worker():
        got = build_once(out, build, stamp="v1")
        names = sorted(
            n for n in os.listdir(got) if n != "_DONE"
        )
        owners = {open(os.path.join(got, n)).read() for n in names}
        results.append((names, owners, open(os.path.join(got, "_DONE")).read()))

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(results) == 8
    for names, owners, marker in results:
        assert names == [f"f{i}.txt" for i in range(5)]
        assert len(owners) == 1  # one builder's complete payload, no mixing
        assert marker == "v1"
    shutil.rmtree(root, ignore_errors=True)


def test_resample_fill_covers_every_user_day(spark):
    """Densified series: contiguous day range per user, zero-filled gaps
    flagged, totals conserved vs the raw events."""
    import pyspark.sql.functions as F
    from week3_2_practice_big_data__spark.io import load_table

    rows = REGISTRY["ts_resample_fill"].builder(spark, SF_SMALL).collect()
    per = {}
    for r in rows:
        per.setdefault(r["user_id"], []).append(r)
        if r["gap_filled"]:
            assert r["n_events"] == 0 and r["sum_value"] == 0.0
    n_raw = load_table(spark, SF_SMALL, "events").count()
    assert sum(r["n_events"] for r in rows) == n_raw
    for user, days in per.items():
        ds = sorted(d["day"] for d in days)
        assert ds == list(range(ds[0], ds[-1] + 1)), user  # contiguous


def test_pii_scrub_redacts_and_counts(spark):
    rows = {r["rec_id"]: r for r in REGISTRY["ns_pii_scrub"].builder(spark, SF_SMALL).collect()}
    assert rows[0]["n_emails"] == 1 and "<EMAIL>" in rows[0]["scrubbed"]
    assert rows[1]["n_phones"] == 2 and rows[1]["scrubbed"].count("<PHONE>") == 2
    assert rows[2]["n_ips"] == 2 and rows[2]["scrubbed"].count("<IP>") == 2
    assert rows[3]["scrubbed"] == "no personal data in this line at all"
    assert rows[4]["n_emails"] == 1 and rows[4]["n_phones"] == 1 and rows[4]["n_ips"] == 1
    assert rows[5]["n_emails"] == 0 and rows[5]["n_phones"] == 0 and rows[5]["n_ips"] == 0
    for r in rows.values():
        assert "@" not in r["scrubbed"] or r["n_emails"] == 0


def test_naive_bayes_beats_uniform_prior(spark):
    """Training accuracy of the NB classifier must beat random guessing
    over the language set (the corpus shares one vocabulary, so profile
    separation is weak — but the statistical model must still find it on
    its own training data)."""
    rows = REGISTRY["ml_naive_bayes"].builder(spark, SF_SMALL).collect()
    langs = [r["lang"] for r in rows]
    total = sum(r["n_docs"] for r in rows)
    correct = sum(r["n_correct"] for r in rows)
    assert total == 500
    assert correct / total > 1.0 / len(langs), (correct, total, langs)
    for r in rows:
        assert 0.0 <= r["accuracy"] <= 1.0
        assert r["n_correct"] <= r["n_docs"]


def test_triangle_count_consistent(spark):
    """Global triangle total is one scalar repeated per row; per-node
    memberships are positive and can't exceed 3x the total."""
    rows = REGISTRY["graph_triangle_count"].builder(spark, SF_SMALL).collect()
    assert rows
    totals = {r["n_triangles"] for r in rows}
    assert len(totals) == 1
    total = totals.pop()
    assert total > 0  # dense small-vocab co-occurrence graph has triangles
    for r in rows:
        assert 0 < r["n_tri"] <= total


def test_lttb_keeps_endpoints_and_bucket_peaks(spark):
    """Downsample contract: per user exactly one 'first', one 'last', and
    at most one peak per interior bucket."""
    rows = REGISTRY["ts_downsample_lttb"].builder(spark, SF_SMALL).collect()
    per = {}
    for r in rows:
        per.setdefault(r["user_id"], []).append(r)
    for user, rs in per.items():
        kinds = [r["kind"] for r in rs]
        assert kinds.count("first") == 1 and kinds.count("last") == 1, user
        peaks = [r["bkt"] for r in rs if r["kind"] == "peak"]
        assert len(peaks) == len(set(peaks)), user  # <=1 per bucket
        assert all(2 <= b <= 9 for b in peaks), user  # interior buckets only


def test_cusum_flags_are_rare_and_bounded(spark):
    """Deviation sums start near 0 and the 3-sigma flag must fire on a
    minority of points (uniform-ish synthetic values have no real drift)."""
    rows = REGISTRY["win_cusum_changepoint"].builder(spark, SF_SMALL).collect()
    assert rows
    flagged = sum(1 for r in rows if r["drift_flag"])
    assert flagged / len(rows) < 0.5


def test_pca_power_is_unit_norm_and_spectrally_bounded(spark):
    """Power iteration contract on a near-isotropic spectrum: the loading
    vector is unit norm, and the Rayleigh quotient lies between the mean
    and max eigenvalue of the TRUE covariance (computed via numpy) — the
    estimate must beat a random direction even where full convergence
    needs many more rounds than the spectral gap allows."""
    import numpy as np
    import duckdb

    rows = REGISTRY["ml_pca_power"].builder(spark, SF_SMALL).collect()
    v = np.array([r["loading"] for r in sorted(rows, key=lambda r: r["dim"])])
    lam = rows[0]["eigenvalue"]
    assert abs(float(v @ v) - 1.0) < 1e-4
    emb = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{SF_SMALL}/embeddings.parquet') ORDER BY vec_id"
    ).fetchnumpy()
    X = np.stack([np.array(e, dtype=np.float64) for e in emb["embedding"]])
    w = np.linalg.eigvalsh(np.cov(X.T, bias=True))
    assert w.mean() <= lam <= w[-1] * 1.001, (lam, w.mean(), w[-1])


def test_bootstrap_ci_brackets_the_mean(spark):
    """The replicate-mean CI must bracket the full-sample mean and be
    reasonably tight (Poisson(1) weights perturb, not replace, the mass)."""
    rows = REGISTRY["agg_bootstrap_poisson"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_replicates"] == 16
    assert r["ci_lo"] <= r["mean_full"] <= r["ci_hi"]
    width = r["ci_hi"] - r["ci_lo"]
    assert 0 < width < 0.2 * r["mean_full"]


@pytest.mark.parametrize("limit,tag", [(0, "sf_empty"), (1, "sf_one")])
def test_degenerate_input_parity_representatives(spark, limit, tag):
    """Degenerate-input gate: a cross-family sample of oracle keys must
    agree with DuckDB on ALL-EMPTY and SINGLE-ROW input tables — guards
    the division/log/inference edges an empty or tiny partition hits at
    scale (zero variance, k=1 groups, rank granularity, log2(0)).
    (Full-sweep result: 189/192 on both; the cube/rollup/grouping-sets
    trio diverges by documented engine semantics — DuckDB emits the
    grand-total grouping row on an empty relation.)"""
    import os

    import duckdb

    from week3_2_practice_big_data__spark.io import TABLES

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", tag)
    if not os.path.exists(os.path.join(out, "region.parquet")):
        os.makedirs(out, exist_ok=True)
        con0 = duckdb.connect()
        for t in TABLES:
            con0.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet') LIMIT {limit}) "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
    from .oracle import compare, duck_run

    keys = [
        "agg_groupby_multi", "agg_histogram", "ns_domain_mix",
        "ns_dedup_embed_cosine", "ns_sim_ann_lsh", "ns_semdedup",
        "iter_pagerank_tokens", "join_dpp_partitioned",
        "src_partition_prune_static", "sink_partitioned_write",
        "agg_bitmap_distinct", "ns_text_perplexity", "ml_naive_bayes",
        "win_cusum_changepoint", "ts_resample_fill", "agg_bootstrap_poisson",
        "agg_skew_kurt", "ml_linreg_closed", "agg_anova_oneway",
        "agg_corr_moments", "ml_pca_power", "agg_sketch_kll_quantile",
        # r8: the composed pipeline, the blocked pareto/curriculum ranks,
        # and the BFS fixpoint on empty/one-row inputs
        "ns_pipeline_e2e", "win_pareto_abc", "ns_curriculum_order",
        "iter_bfs_sssp", "ts_rollup_multires", "ml_gbt_boost2",
        # r9: Lloyd rounds / topic mixture on empty and single-vector
        # corpora (all-zero stats spine, weight 0 branches), UDTF over
        # empty/one documents, vocab coverage with an under-V vocabulary
        "iter_kmeans_embed", "ns_topic_mixture", "udtf_python_native",
        "ns_vocab_coverage", "stream_session_window_native",
        "udf_arrow_map", "src_python_datasource",
        "stream_dedup_within_watermark", "fn_sql_udf",
        "stream_checkpoint_restart",
        # r10 second session: XML serialize/parse over empty/one rows,
        # collated grouping with 0/1 casings, the domain-spined transpose
        # (columns must stay A/N/R with NULL cells), and the state store
        # of an empty/one-event checkpoint
        "src_xml_roundtrip", "fn_xml_funcs", "fn_collation",
        "reshape_transpose", "src_statestore_read",
        # r10 second session (batch 2): dynamic SQL over empty/one-row
        # orders, TIME grouping with no/one timestamps, lateral top-2
        # with no matches, _metadata over an empty file, RocksDB state
        # on an empty/one-event stream
        "qry_dynamic_sql", "fn_time_type", "join_lateral_df",
        "src_file_metadata", "stream_rocksdb_state",
        # r10 second session (batch 3): the change feed over an
        # empty/one-event checkpoint (agg_grouping_sets_df is EXCLUDED
        # here by the documented cube/rollup/grouping-sets exemption —
        # DuckDB emits the grand-total grouping row on an empty
        # relation, Spark emits none; it runs in the adversarial gate)
        "src_statestore_changefeed",
        # r10 second session (batch 4): interval aggregation over
        # zero/one gaps (count(gap)=0 with a NULL-gap single row), and
        # the Arrow round trip of an empty/one-row rollup
        "fn_interval_agg", "src_arrow_roundtrip",
        # r10 second session (batch 5): the NULL-fill union on
        # empty/one-row orders (agg_crosstab is EXCLUDED here — its
        # column set comes from the data domain, the grouping-sets/
        # transpose-pre-spine exemption class; it runs adversarially)
        "set_union_byname_missing",
        # r10 second session (batch 6): mask classes and the AES round
        # trip over empty/one-row customers
        "fn_mask_redact", "fn_crypto_aes",
        # r11 df.stat sweep: freqItems' empty-array candidates on an
        # empty corpus / singleton frequent item at n=1; approxQuantile's
        # []-return guard on empty events and the 1/n tolerance floor at
        # n=1; cov/corr's n<2 vacuous branch with NULL sums; sampleBy's
        # empty-stratum and single-row-stratum bounds
        "agg_freq_items", "agg_approx_quantile", "agg_cov_corr",
        "agg_sample_by",
        # r11 native theta: NULL sketches on empty orders (coalesce-0
        # estimates vs zero exact counts), singleton sets at n=1
        "agg_sketch_theta_ops",
        # r11 ANSI regression aggregates: empty relation (no groups) and
        # the n=1 group where regr_slope is NULL in both engines and the
        # vacuous-TRUE branch must engage
        "agg_regr_native",
        # r11 native bitmap: empty relation (no groups), singleton bitmap
        "agg_bitmap_native",
        # r11 NGT histogram: empty (0-row output both sides) and the
        # single-centroid n=1 case
        "agg_histogram_numeric",
        # r11 randomSplit (empty → three zero-count splits, n=1 → the
        # row lands in exactly one split) and summary() (empty → 0-row
        # output both sides; n=1 → sample-stddev-undefined branch)
        "agg_random_split", "agg_describe_summary",
        # r11 OFFSET pagination past the end of a tiny relation → empty
        "limit_offset_page",
        # r12 pandas-on-Spark bridge on empty/one-row lineitem (empty
        # groupby → empty frame through to_spark)
        "qry_pandas_on_spark",
    ]
    for key in keys:
        q = REGISTRY[key]
        compare(q.builder(spark, out), duck_run(q.oracle, out), f"{key}:{tag}")


def test_adversarial_input_parity(spark):
    """Adversarial-VALUES gate (r4, the dirty-data sibling of the
    empty/single-row sweep): documents with empty text, lone/double/edge
    spaces (empty tokens through split), CJK+emoji+accents, a 5000-char
    single token, quotes/backslashes, byte-identical duplicates;
    embeddings with an all-zero vector, exact duplicates, ±huge and
    denormal float32 components; events with 0 / negative / ±1e300 /
    Infinity / NaN values and tied timestamps. Every sampled oracle key
    must still agree with DuckDB bit-for-bit — these are the value edges
    a 100 TB web corpus actually contains."""
    import os

    import duckdb

    from week3_2_practice_big_data__spark.io import TABLES

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "sf_weird"
    )
    stamp = os.path.join(out, "_STAMP_v2")
    if not os.path.exists(stamp):
        # Rebuilding under a new stamp: purge DERIVED caches keyed on this
        # fixture (streaming chunk dirs, band/bucket/IVF indexes...) —
        # their build_once stamps don't encode the source fixture version,
        # so stale v1-derived data would masquerade as 10 spurious
        # streaming mismatches (observed at the v1->v2 bump, r13).
        import glob
        import shutil

        for d in glob.glob(os.path.join(os.path.dirname(out), "*sf_weird*")):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        con0 = duckdb.connect()
        docs = [
            (0, "", "en", "src0"),
            (1, " ", "en", "src0"),
            (2, "a", "en", "src1"),
            (3, "hello  world", "en", "src1"),
            (4, " leading and trailing ", "en", "src1"),
            (5, "日本語 テスト 🦄 café naïve słowa", "xx", "src2"),
            (6, "x" * 5000, "en", "src2"),
            (7, "dup dup dup dup dup dup dup dup dup dup", "en", "src2"),
            (8, "it's a \"quoted\" back\\slash token", "en", "src3"),
            (9, "copy me twice and again exactly verbatim", "en", "src3"),
            (10, "copy me twice and again exactly verbatim", "en", "src3"),
            (11, "normal sentence with seven plain ascii tokens", "en", "src3"),
            # v2 (r13 skew campaign follow-through): the NULL classes the
            # skew fixture does NOT null — NULL text itself, and NULL
            # lang/source in the ALWAYS-RUN gate (the opt-in skew gate
            # covers them at corpus scale only).
            (12, None, "en", "src4"),
            (13, "plain text with null metadata", None, None),
        ]
        con0.execute(
            "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT)"
        )
        for i, t, lang, src in docs:
            con0.execute(
                "INSERT INTO d VALUES (?, ?, ?, ?, ?)",
                [i, t, lang, src, len(t) if t is not None else None],
            )
        con0.execute(f"COPY d TO '{out}/documents.parquet' (FORMAT PARQUET)")

        con0.execute(
            "CREATE TABLE e (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type VARCHAR, value DOUBLE, props VARCHAR)"
        )
        base = "2024-01-01 00:00:00"
        vals = [0.0, -1.5, 1e300, -1e300, 1e-300, float("inf"), float("nan"), 2.0, 2.0, -0.0]
        for i, v in enumerate(vals):
            # two rows share ts (tie-order edge), the rest step by minutes
            mins = 5 if i in (7, 8) else i
            con0.execute(
                f"INSERT INTO e VALUES (?, TIMESTAMP '{base}' + INTERVAL ({mins}) MINUTE, ?, ?, ?, ?)",
                [i, i % 3, "click" if i % 2 else "view", v, "{}"],
            )
        # v2: NULL value / NULL event_type (group key) / NULL user_id
        # (window partition key) — the NULL placements the r13 skew sweep
        # proved divergence-prone, pinned into the always-run gate
        for i, (uid, etype, v) in enumerate(
            [(0, "click", None), (1, None, 1.0), (None, "view", 3.0)],
            start=len(vals),
        ):
            con0.execute(
                f"INSERT INTO e VALUES (?, TIMESTAMP '{base}' + INTERVAL ({i}) MINUTE, ?, ?, ?, ?)",
                [i, uid, etype, v, "{}"],
            )
        con0.execute(f"COPY e TO '{out}/events.parquet' (FORMAT PARQUET)")

        con0.execute(
            "CREATE TABLE emb (vec_id BIGINT, embedding FLOAT[], label INTEGER)"
        )
        def vec(fill):
            return [float(fill)] * 64
        embs = [
            (0, vec(0.0), 0),                      # zero vector (zero norm)
            (1, [0.1] * 64, 1),
            (2, [0.1] * 64, 1),                    # exact duplicate of 1
            (3, [1e30] * 64, 2),                   # huge but finite float32
            (4, [1e-40] * 64, 2),                  # float32 denormal
            (5, [(-1.0) ** j * 0.5 for j in range(64)], 3),
            (6, [-0.0] * 64, 0),                   # negative zero
            (7, None, 1),                          # v2: NULL embedding
        ]
        for i, v, lab in embs:
            con0.execute("INSERT INTO emb VALUES (?, ?, ?)", [i, v, lab])
        con0.execute(f"COPY emb TO '{out}/embeddings.parquet' (FORMAT PARQUET)")

        # remaining tables: tiny normal slices keep every key runnable
        for t in TABLES:
            if t in ("documents", "events", "embeddings"):
                continue
            con0.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet') LIMIT 20) "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
        with open(stamp, "w") as f:
            f.write("v2")

    from .oracle import compare, duck_run

    keys = [
        # text family over the dirty corpus
        "ns_text_tokens", "ns_text_stats", "ns_text_clean", "ns_text_langid",
        "ns_text_quality", "ns_text_fingerprint", "ns_text_tfidf",
        "ns_text_pmi", "ns_text_perplexity", "ns_kn_bigram",
        "ns_domain_mix", "ns_domain_temperature",
        # dedup family (byte-dup pair present)
        "ns_dedup_exact", "ns_dedup_minhash", "ns_dedup_cluster",
        "ns_dedup_simhash", "ns_dedup_ngram_jaccard", "ns_dedup_substring",
        "ns_dedup_paragraph", "ns_pii_scrub", "ns_repetition_filter",
        # embeddings (zero norm / duplicates / extremes)
        "ns_sim_topk", "ns_dedup_embed_cosine", "ns_semdedup",
        "ns_sim_ann_lsh", "ns_sim_ann_ivf", "ns_embed_quantize",
        "ml_pca_power",
        # events with inf/nan/huge values + tied timestamps
        "win_cusum_changepoint", "ts_resample_fill", "agg_entropy",
        "win_moving_zscore", "agg_ohlc_bars", "win_islands_ranges",
        "agg_conditional", "win_rolling_corr",
        # r5 upgrades: streaming batch-equivalence oracles (tied ts +
        # NaN/Inf values flow through watermark/state/chunk paths),
        # hierarchical global-window decompositions, deterministic
        # CSV-quarantine counts
        "stream_watermark_late", "stream_dedup_state",
        "stream_tumbling_file_rate", "stream_custom_state",
        "stream_foreachbatch", "stream_trigger_availablenow",
        "stream_sink_parquet", "src_csv_malformed",
        "win_islands_blocked", "win_ntile_blocked",
        # r6: blocked-ntile tier decomposition + the socket-fed unbounded
        # source (ties/NaN/Inf flow through the line protocol + watermark)
        "ns_sample_importance", "stream_unbounded_socket",
        # r7: the index-lifecycle siblings (persisted band/IVF indexes
        # must reproduce the in-flight decisions on dirty inputs too) and
        # the BPE encode pass (empty tokens, 5000-char cap, CJK/emoji)
        "ns_dedup_incremental_persist", "ns_sim_ann_ivf_persist",
        "ns_bpe_encode", "ns_dedup_incremental",
        # r7 third session: NaN/Inf/±1e300 values flow through the sat
        # gate into the daily micro sums (ACF/CCF variance guards hit
        # their NULL paths here), the drawdown running frames, and the
        # jaccard division
        "ts_autocorr", "ts_cross_corr", "ts_max_drawdown",
        "graph_bipartite_jaccard",
        # r7 fourth session: degenerate edge lists (empty/one-row) must
        # yield empty pair sets; weird values only touch BIGINT keys
        "graph_resource_alloc",
        # NaN/Inf money and NULL dates flow through the sat gate into
        # the cents running frames; NaN/Inf values + NULL ts through the
        # drift histogram's sat/extent/epoch-split path
        "win_budget_allocation",
        "dq_distribution_drift",
        # extreme/negative user ids exercise the double-mod hash
        # normalization; NaN/Inf values the cohort filter
        "agg_sketch_kmv_intersect",
        # r7 fifth session: the dirty corpus flows through BM25's
        # df-rank query derivation + idf/saturation parse tree and the
        # clustering coefficient's triangle/degree divisions; zero-norm
        # and ±1e30 embeddings through the kNN vote (NULL-cosine
        # ordering); NaN/Inf values + NULL ts through the stump's
        # sat/extent histogram and 0·ln 0 entropy guards
        "ns_text_bm25", "graph_clustering_coeff", "ml_knn_classify",
        "ml_decision_stump",
        # NULL ts/type and extreme values flow through the attribution
        # prefix frames and the revenue sat gate; the empty/one-node
        # graph exercises the degree fit's zero-variance NULL path
        "win_attribution", "graph_degree_distribution",
        # NaN/Inf/±1e300 values through the integer score's sat gate;
        # the zero-positive fixture exercises every nullif NULL path in
        # rate/lift/capture/AUC
        "ml_lift_gains",
        # NULL ts/type through the freshness filters; the single-day
        # fixture drives MAD = 0 through the robust-z nullif path
        "dq_freshness", "dq_rowcount_anomaly",
        # the empty/one-row ratings matrix exercises the n=0 RMSE nullif
        # and the single-entity Cramer solve
        "iter_als_rank2",
        # NULL ts/user/type through the pair window and the KM lifetime
        # aggregation; single-user fixtures pin the degenerate matrix /
        # all-censored curve (the all-churn d>=r zero branch is a
        # correctness guard, identical shared text both engines)
        "win_markov_transitions", "win_survival_km",
        # r8: the dirty corpus flows end-to-end through the composed
        # pipeline (url regexes on synthesized strings, quality features
        # over empty/5000-char/CJK text, blocked tercile, bloom probe,
        # pack/shuffle checksums, epoch divisions behind the toks=0
        # guard); curriculum sorts by the raw quality double and
        # floor-casts it into buckets; pareto's DECIMAL revenue and log2
        # bin() bucket run over the weird lineitem; the BFS frontier over
        # the weird graph exercises the empty-round fixpoint
        "ns_pipeline_e2e", "ns_curriculum_order", "win_pareto_abc",
        "iter_bfs_sssp", "stream_stream_outer_join",
        # NaN/Inf/±1e300 values through the rollup's sat gate; NULL
        # ts/type rows dropped identically in both tiers
        "ts_rollup_multires",
        # NaN/Inf values through the boosting histogram's sat gate; the
        # near-constant weird corpus exercises the zero-gain tie-break
        "ml_gbt_boost2",
        # r9: the ±1e30/denormal/zero embeddings flow through the Lloyd
        # folds (1e60-scale squared distances saturate into the inertia
        # micro units; the coalesce-1e300 NULL guard), the topic join,
        # and the balanced-weight DIV; unicode/empty/5000-char docs
        # through the UDTF's code-point span arithmetic and the vocab
        # coverage nullif rates; session windows under tied timestamps
        "iter_kmeans_embed", "ns_topic_mixture", "udtf_python_native",
        "ns_vocab_coverage", "stream_session_window_native",
        "udf_arrow_map", "stream_dedup_within_watermark", "fn_sql_udf",
        "stream_checkpoint_restart",
        # r10: NaN/Inf/±1e300 values through the observe() micro-sum sat
        # gates (batch and per-micro-batch streaming totals); the weird
        # lineitem through the applyInArrow kernel's sat + guarded
        # floor-div; NULL/empty-object props through the VARIANT
        # parse/typed-get/round-trip; the composed streaming pipeline,
        # the Python stream source/sinks, and the listener totals over
        # the dirty event stream
        "dq_observe_metrics", "stream_observe_metrics",
        "udf_arrow_grouped", "fn_variant_type", "qry_pipe_syntax",
        "stream_pipeline_e2e", "sink_python_datasource",
        "stream_python_datasource_sink", "src_python_datasource_stream",
        "stream_query_listener", "sink_python_datasource_arrow",
        "src_python_datasource_pushdown", "qry_parameterized_sql",
        "qry_modern_sql_sugar", "qry_session_variables",
        "qry_sql_scripting", "fn_udf_sql_register", "udf_pandas_iter",
        "stream_sink_foreach_rows", "stream_python_datasource_sink_arrow",
        # r10 second session: NaN/Inf/±1e300 values through the state-
        # store key's sat gate before the checkpointed sum (the state
        # dump must equal the saturated relational aggregate); the weird
        # 20-row slices through the XML entity/decimal round trips, the
        # collated merge, and the spined transpose's NULL cells
        "src_statestore_read", "src_xml_roundtrip", "fn_xml_funcs",
        "fn_collation", "reshape_transpose",
        # r10 second session (batch 2): NULL ts through the TIME
        # projection's hour(NULL) group and the RocksDB-backed window
        # agg (tied timestamps exercise the state path under the
        # production provider); the weird 20-row slices through dynamic
        # SQL, the lateral rank tiebreak, and the _metadata write rank
        "qry_dynamic_sql", "fn_time_type", "join_lateral_df",
        "src_file_metadata", "stream_rocksdb_state",
        # r10 second session (batch 3): tied timestamps through the
        # change feed's write-rank batching; the weird join through the
        # grouping-sets Expand
        "src_statestore_changefeed", "agg_grouping_sets_df",
        # r10 second session (batch 4): tied timestamps → zero-second
        # intervals through the gap window; the weird supplier slice
        # through the Arrow type round trip
        "fn_interval_agg", "src_arrow_roundtrip",
        # r10 second session (batch 5): the weird 20-row lineitem slice
        # through the contingency pivot (both statuses present) and the
        # NULL-fill union
        "agg_crosstab", "set_union_byname_missing",
        # r10 second session (batch 6): the weird customer slice through
        # the mask char classes and the AES round trip
        "fn_mask_redact", "fn_crypto_aes",
        # r11: NaN/Inf/±1e300 event values through the approxQuantile
        # finite-value gate (the rank check runs on 5 finite rows); the
        # dirty 12-doc corpus through the KPS candidate intersection;
        # the weird 20-row lineitem through the cov/corr closed form
        # (n=20, possible zero-variance vacuous branch) and the 6σ
        # sampleBy bounds at tiny n
        "agg_approx_quantile", "agg_freq_items", "agg_cov_corr",
        "agg_sample_by",
        # r11 native theta over the weird 20-row orders slice (tiny sets
        # in exact mode; the greatest(2, …) floor absorbs ±1 edges)
        "agg_sketch_theta_ops",
        # r11 regression aggregates over the weird 20-row lineitem slice
        # (possible zero-variance groups → vacuous branch)
        "agg_regr_native",
        # r11 native bitmap over the weird 20-row orders slice
        "agg_bitmap_native",
        # r11 NGT histogram: NaN/Inf/±1e300 through the finite gate; the
        # 5 surviving finite values land in ≤5 centroids
        "agg_histogram_numeric",
        # r11 randomSplit/summary over the weird 20-row customer slice
        "agg_random_split", "agg_describe_summary",
        # r11 OFFSET 40 past the 20-row weird orders slice → empty page
        "limit_offset_page",
        # r12 pandas-on-Spark bridge: the weird 20-row lineitem slice
        # through the pre-bridge floor-cast micro-unit quantize, the ps
        # NULL-semantics mask, and the named-agg groupby
        "qry_pandas_on_spark",
    ]
    for key in keys:
        q = REGISTRY[key]
        compare(q.builder(spark, out), duck_run(q.oracle, out), f"{key}:weird")


def test_compaction_rewrites_64_fragments_to_4_files(spark):
    """sink_compact_small_files: the filesystem halves of the contract —
    the fragmented layout really is 64 part-files, the compacted layout
    really is 4, and the read-back row count survives both hops (the
    value-level identity is the key's DuckDB oracle)."""
    import glob
    import os

    from week3_2_practice_big_data__spark.sources.files import compact_paths

    rows = REGISTRY["sink_compact_small_files"].builder(spark, SF_SMALL).collect()
    frag, compact = compact_paths(SF_SMALL)
    n_frag = len(glob.glob(os.path.join(frag, "part-*.parquet")))
    n_compact = len(glob.glob(os.path.join(compact, "part-*.parquet")))
    assert n_frag == 64
    assert n_compact == 4
    n_src = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet")).count()
    assert rows[0]["n_rows"] == n_src


def test_bfs_sssp_levels_saturate(spark):
    """iter_bfs_sssp semantic pins at sf0.001: multi-source seeds present,
    real frontier mass at dists 1–3, the round-4 frontier EMPTY (the
    expander saturates — the fixpoint round is exercised, not just
    configured), and zero unreached nodes (the part–supplier graph is
    connected at every driver sf)."""
    from week3_2_practice_big_data__spark import REGISTRY

    rows = {r["dist"]: r for r in
            REGISTRY["iter_bfs_sssp"].builder(spark, SF_SMALL).collect()}
    assert set(rows) == {-1, 0, 1, 2, 3, 4}
    assert rows[0]["n_nodes"] >= 2  # multi-source
    assert rows[1]["n_nodes"] > 0 and rows[2]["n_nodes"] > 0
    assert rows[3]["n_nodes"] > 0
    assert rows[4]["n_nodes"] == 0 and rows[4]["node_check"] == 0
    assert rows[-1]["n_nodes"] == 0


def test_pareto_abc_classes_partition_parts(spark):
    """win_pareto_abc: the three classes partition the part set exactly,
    class A's revenue share lands at ~70% (first part to cross the
    threshold included), and every class carries real mass at sf0.001."""
    from week3_2_practice_big_data__spark import REGISTRY
    from week3_2_practice_big_data__spark.io import load_table

    rows = {r["abc_class"]: r for r in
            REGISTRY["win_pareto_abc"].builder(spark, SF_SMALL).collect()}
    assert set(rows) == {"A", "B", "C"}
    n_parts = spark.sql(
        "SELECT count(DISTINCT l_partkey) AS n FROM {lineitem}",
        lineitem=load_table(spark, SF_SMALL, "lineitem"),
    ).collect()[0]["n"]
    assert sum(r["n_parts"] for r in rows.values()) == n_parts
    assert all(r["n_parts"] > 0 for r in rows.values())
    assert 0.6 < rows["A"]["revenue_share"] <= 0.75
    assert abs(sum(r["revenue_share"] for r in rows.values()) - 1.0) < 1e-9


def test_curriculum_order_is_permutation(spark):
    """ns_curriculum_order: positions are a 1..N permutation of the
    non-NULL-text corpus, shards are contiguous 64-doc ranges, and the
    order is actually quality-descending (spot-checked via the score)."""
    from week3_2_practice_big_data__spark import REGISTRY
    from week3_2_practice_big_data__spark.functions.llmprep import _qc_scored_sql
    from week3_2_practice_big_data__spark.io import load_table

    rows = REGISTRY["ns_curriculum_order"].builder(spark, SF_SMALL).collect()
    pos = sorted(r["pos"] for r in rows)
    assert pos == list(range(1, len(rows) + 1))
    for r in rows:
        assert r["shard"] == (r["pos"] - 1) // 64
        assert r["pos_in_shard"] == (r["pos"] - 1) % 64 + 1
    # ADVICE r8: tie pos to the quality score — the builder's scoring
    # text carries z per doc; the walk down positions must be
    # z-descending with doc_id as the tiebreak, so an ascending-sort
    # regression fails HERE, not only at the oracle compare.
    z = {r["doc_id"]: r["z"]
         for r in spark.sql(
             f"SELECT doc_id, z FROM ({_qc_scored_sql('spark')}) qs",
             documents=load_table(spark, SF_SMALL, "documents"),
         ).collect()}
    ordered = sorted(rows, key=lambda r: r["pos"])
    assert len(ordered) > 2
    for a, b in zip(ordered, ordered[1:]):
        assert (z[a["doc_id"]] > z[b["doc_id"]]) or (
            z[a["doc_id"]] == z[b["doc_id"]]
            and a["doc_id"] < b["doc_id"]
        )


def test_gbt_boost_mse_monotone(spark):
    """ml_gbt_boost2: train MSE must not increase across boosting rounds
    (LS leaf values with shrinkage 1/2 reduce each region's SSE unless the
    leaf mean is zero), rounds are 0/1/2, and the baseline MSE equals
    p(1-p) of the purchase rate to quantization."""
    from week3_2_practice_big_data__spark import REGISTRY

    rows = {r["round"]: r for r in
            REGISTRY["ml_gbt_boost2"].builder(spark, SF_SMALL).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[0]["mse"] >= rows[1]["mse"] >= rows[2]["mse"] > 0
    assert rows[1]["gain"] > 0 and rows[2]["gain"] >= 0
    # each round's leaf corrections pull in opposite directions
    assert rows[1]["gamma_l"] * rows[1]["gamma_r"] <= 0


def test_udtf_spans_reconstruct_document(spark):
    """udtf_python_native (r9): the emitted spans must EXACTLY tile each
    document — substring(text, start_off+1, len) == token for every row,
    consecutive spans separated by exactly one space, and the last span
    ends at the document's code-point length."""
    from collections import defaultdict

    from week3_2_practice_big_data__spark import REGISTRY
    from week3_2_practice_big_data__spark.io import load_table

    rows = REGISTRY["udtf_python_native"].builder(spark, SF_SMALL).collect()
    assert rows
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_SMALL, "documents")
        .select("doc_id", "text").collect()
        if r["text"] is not None
    }
    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r["doc_id"]].append(r)
    assert set(per_doc) == set(texts)
    for doc_id, spans in per_doc.items():
        text = texts[doc_id]
        spans.sort(key=lambda r: r["pos"])
        prev_end = None
        for r in spans:
            assert text[r["start_off"]:r["end_off"]] == r["token"]
            if prev_end is not None:
                assert r["start_off"] == prev_end + 1  # single-space gap
            prev_end = r["end_off"]
        assert prev_end == len(text)


def test_kmeans_embed_lloyd_converges_and_weights_balance(spark):
    """iter_kmeans_embed (r9): Lloyd inertia is non-increasing across the
    three rounds (micro-unit slack: 1 micro per vector for the q6
    boundary), every round's cluster sizes conserve the corpus, and the
    balanced-topic weight is exactly total*1e6 DIV (K*n) — larger topics
    get smaller sampling weight."""
    from collections import defaultdict

    from week3_2_practice_big_data__spark import REGISTRY
    from week3_2_practice_big_data__spark.functions.similarity import _KME_K
    from week3_2_practice_big_data__spark.io import load_table

    rows = REGISTRY["iter_kmeans_embed"].builder(spark, SF_SMALL).collect()
    n_corpus = load_table(spark, SF_SMALL, "embeddings").count()
    by_round = defaultdict(list)
    for r in rows:
        by_round[r["round"]].append(r)
    assert set(by_round) == {1, 2, 3}
    inertias = {}
    for rnd, rs in by_round.items():
        assert len(rs) == _KME_K
        total = sum(r["n_vecs"] for r in rs)
        assert total == n_corpus  # every vector assigned, every round
        inertias[rnd] = sum(r["inertia_u"] for r in rs)
        for r in rs:
            want = (total * 1_000_000) // (_KME_K * r["n_vecs"]) if r["n_vecs"] else 0
            assert r["weight_u"] == want
        sized = sorted((r for r in rs if r["n_vecs"]), key=lambda r: r["n_vecs"])
        if len(sized) >= 2:
            assert sized[0]["weight_u"] >= sized[-1]["weight_u"]
    assert inertias[1] + n_corpus >= inertias[2]
    assert inertias[2] + n_corpus >= inertias[3]
    assert inertias[3] > 0


def test_python_datasource_partition_contract(spark):
    """src_python_datasource (r9): the custom Python DataSource must
    expose its 8 InputPartitions as real scan partitions (the
    parallelism contract), emit every row exactly once across them, and
    reproduce the shared LCG bit-for-bit."""
    from week3_2_practice_big_data__spark import REGISTRY
    from week3_2_practice_big_data__spark.sources.generators import (
        _PYDS_N,
        _PYDS_PARTS,
        _PYDS_SEED,
    )

    REGISTRY["src_python_datasource"].builder(spark, SF_SMALL)  # registers
    raw = spark.read.format("w32bd_lcg").load()
    assert raw.rdd.getNumPartitions() == _PYDS_PARTS
    rows = raw.collect()
    assert len(rows) == _PYDS_N
    assert sorted(r["i"] for r in rows) == list(range(_PYDS_N))
    m31, a, c = 2_147_483_648, 1_103_515_245, 12_345
    for r in rows[:64]:
        x = (r["i"] * 1000003 + _PYDS_SEED * 7919 + c) % m31
        x = (a * x + c) % m31
        assert r["u"] == x / m31


def test_statestore_metadata_and_row_inventory(spark):
    """src_statestore_read (r10): beyond the value hash, the state-
    metadata reader must inventory exactly one stateful operator
    (stateStoreSave, default store, batch 0 committed) for the
    checkpoint the key built, and the state row count must equal the
    distinct grouping-key count — one state row per group, the contract
    that makes state inspection a usable ops surface."""
    import os

    from week3_2_practice_big_data__spark import REGISTRY
    from week3_2_practice_big_data__spark.streaming.streams import (
        _ssread_checkpoint,
    )

    out = REGISTRY["src_statestore_read"].builder(spark, SF_SMALL)
    n_state = out.count()
    n_types = (
        spark.read.parquet(os.path.join(SF_SMALL, "events.parquet"))
        .select("event_type")
        .distinct()
        .count()
    )
    assert n_state == n_types
    ck = _ssread_checkpoint(SF_SMALL)
    meta = spark.read.format("state-metadata").load(ck).collect()
    assert len(meta) == 1
    m = meta[0]
    assert m["operatorName"] == "stateStoreSave"
    assert m["stateStoreName"] == "default"
    assert m["minBatchId"] == 0
    assert m["numPartitions"] > 0


def test_collation_merges_casings_binary_splits_them(spark):
    """fn_collation (r10): the UTF8_LCASE group-by must merge exactly the
    3 synthesized casings per segment (n_casings == 3 everywhere at
    sf0.001), the binary group-by over the same variant column must keep
    them apart (3× the groups), collation-aware equality must hold for a
    crafted cross-case pair, and the BU prefix must match only the
    building segment (case-insensitively, all its casings)."""
    from week3_2_practice_big_data__spark import REGISTRY
    from week3_2_practice_big_data__spark.functions.semantics import (
        _COLLATE_VARIANT,
    )

    rows = REGISTRY["fn_collation"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 5  # the c_mktsegment domain, case-merged
    assert all(r["n_casings"] == 3 for r in rows)
    for r in rows:
        assert r["n_bu_pfx"] == (r["n"] if r["segment"] == "building" else 0)

    n_binary = spark.sql(
        f"SELECT count(DISTINCT {_COLLATE_VARIANT}) AS n FROM {{customer}}",
        customer=spark.read.parquet(f"{SF_SMALL}/customer.parquet"),
    ).first()["n"]
    assert n_binary == 15  # 5 segments x 3 casings under UTF8_BINARY

    eq = spark.sql(
        "SELECT collate('MiXeD', 'UTF8_LCASE') = 'mIxEd' AS a, "
        "startswith(collate('BuIlDiNg', 'UTF8_LCASE'), 'bU') AS b, "
        "collate('MiXeD', 'UTF8_BINARY') = 'mIxEd' AS c"
    ).first()
    assert eq["a"] is True and eq["b"] is True and eq["c"] is False


def test_transpose_schema_is_domain_stable(spark):
    """reshape_transpose (r10): the transposed summary must expose the
    index column first ('key') then one DOUBLE column per returnflag
    domain value in sorted order — on full data AND regardless of which
    flags a slice happens to contain (the domain spine's job)."""
    from week3_2_practice_big_data__spark import REGISTRY

    out = REGISTRY["reshape_transpose"].builder(spark, SF_SMALL)
    assert [f.name for f in out.schema.fields] == ["key", "A", "N", "R"]
    assert all(
        f.dataType.simpleString() == "double"
        for f in out.schema.fields[1:]
    )
    assert {r["key"] for r in out.collect()} == {
        "sum_qty", "sum_price", "n_rows"
    }


def test_xml_entities_escape_on_write_and_schema_inference(spark):
    """fn_xml_funcs / src_xml_roundtrip (r10): to_xml must entity-escape
    markup characters (the raw serialized text carries &lt;/&amp;, never
    a bare `<`/`&` inside a value), xpath must decode them back, and
    schema_of_xml must infer the typed struct the round-trip keys
    declare explicitly."""
    row = spark.sql(
        "SELECT to_xml(named_struct('e', 'a<&>b')) AS x"
    ).first()
    assert "&lt;" in row["x"] and "&amp;" in row["x"]
    assert "<&" not in row["x"].replace("&lt;", "").replace("&amp;", "")
    back = spark.sql(
        "SELECT xpath_string(to_xml(named_struct('e', 'a<&>b')), '/ROW/e') AS v"
    ).first()
    assert back["v"] == "a<&>b"
    sch = spark.sql(
        "SELECT schema_of_xml('<ROW><ck>1</ck><nm>x</nm></ROW>') AS s"
    ).first()["s"]
    assert sch == "STRUCT<ck: BIGINT, nm: STRING>"


def test_rocksdb_provider_actually_backs_the_state(spark):
    """stream_rocksdb_state (r10): beyond hash parity, prove the RocksDB
    provider really ran — a query started with the provider conf must
    report rocksdb custom metrics in its progress stateOperators, and the
    session conf must be restored to the pre-key provider afterwards."""
    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark.streaming.streams import (
        _ROCKSDB_PROVIDER,
        _event_stream,
        _query,
    )

    before = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", "DEFAULT"
    )
    writer = (
        _event_stream(spark, SF_SMALL, max_files=2)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .outputMode("complete")
    )
    with _query(
        spark,
        writer,
        confs={"spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER},
    ) as q:
        q.processAllAvailable()
        progress = q.lastProgress
    ops = progress["stateOperators"]
    assert ops, "no stateful operator in progress"
    custom = ops[0].get("customMetrics", {})
    assert any("rocksdb" in k.lower() for k in custom), sorted(custom)[:5]
    after = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", "DEFAULT"
    )
    assert after == before


def test_dynamic_sql_identifier_rejects_injection(spark):
    """qry_dynamic_sql (r10): IDENTIFIER() must treat its argument as ONE
    object name — a classic injection payload must raise, never execute.
    (The reason the key routes dynamic names through IDENTIFIER instead
    of string splicing.)"""
    import pytest as _pytest

    from week3_2_practice_big_data__spark.io import load_table

    load_table(spark, SF_SMALL, "orders").createOrReplaceTempView("orders")
    with _pytest.raises(Exception):
        spark.sql(
            "SELECT count(*) FROM IDENTIFIER(:tbl)",
            args={"tbl": "orders WHERE o_orderkey = 1; DROP VIEW orders"},
        ).collect()
    # the view must still exist after the failed attempt
    assert spark.sql("SELECT count(*) AS n FROM orders").first()["n"] > 0


def test_file_metadata_row_index_spans_each_file(spark):
    """src_file_metadata (r10): row_index must be a dense 0..n-1 sequence
    WITHIN each physical file (two files here, one per parity), and the
    two files must be distinct paths."""
    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark import REGISTRY
    from week3_2_practice_big_data__spark.common import scratch_dir

    REGISTRY["src_file_metadata"].builder(spark, SF_SMALL)  # builds scratch
    import os

    out = scratch_dir(SF_SMALL, "filemeta")
    back = spark.read.parquet(
        os.path.join(out, "parity=0"), os.path.join(out, "parity=1")
    ).select(
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("rix"),
    )
    rows = back.collect()
    files = {}
    for r in rows:
        files.setdefault(r["fp"], []).append(r["rix"])
    assert len(files) == 2
    for fp, rixs in files.items():
        assert sorted(rixs) == list(range(len(rixs))), fp


def test_lateral_join_plan_is_not_cartesian(spark):
    """join_lateral_df (r10): Catalyst must decorrelate the per-row LIMIT
    subquery — the physical plan may use a window rank or a join on the
    correlation key, but never a cartesian/nested-loop over the full
    orders table."""
    from week3_2_practice_big_data__spark import REGISTRY

    df = REGISTRY["join_lateral_df"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_time_type_flag_scoped(spark):
    """fn_time_type (r11, ADVICE r10): the 4.1 preview flag is scoped to
    the builder's spark.sql() parse — the session must NOT carry it
    afterwards (later registry keys never see a preview flag), yet the
    returned lazy DataFrame must still execute (the flag gates analysis
    only, probed r11), and TIME semantics inside the scope must agree
    with the literal forms."""
    from week3_2_practice_big_data__spark import REGISTRY
    from week3_2_practice_big_data__spark.session import scoped_confs

    before = spark.conf.get("spark.sql.timeType.enabled", None)
    df = REGISTRY["fn_time_type"].builder(spark, SF_SMALL)
    assert spark.conf.get("spark.sql.timeType.enabled", None) == before
    rows = df.collect()  # analyzed plan executes with the flag restored
    assert len(rows) > 0
    with scoped_confs(spark, {"spark.sql.timeType.enabled": "true"}):
        r = spark.sql(
            "SELECT hour(to_time('23:59:58')) AS h, "
            "to_time('07:08:09') = TIME'07:08:09' AS eq"
        ).first()
    assert r["h"] == 23 and r["eq"] is True


def test_changefeed_final_state_equals_snapshot(spark):
    """src_statestore_changefeed (r10): cross-key consistency — each
    key's LAST change-feed row must carry exactly the cumulative state
    that src_statestore_read's snapshot reports (same aggregation, two
    checkpoints, two read APIs), the feed must span exactly batches
    {0, 1} at sf0.001 (4 chunk files, maxFilesPerTrigger=2), and every
    change_type must be 'update' (a complete-mode agg never deletes)."""
    from week3_2_practice_big_data__spark import REGISTRY

    feed = REGISTRY["src_statestore_changefeed"].builder(spark, SF_SMALL).collect()
    snap = REGISTRY["src_statestore_read"].builder(spark, SF_SMALL).collect()
    assert {r["batch_id"] for r in feed} == {0, 1}
    assert all(r["change_type"] == "update" for r in feed)
    last = {}
    for r in feed:  # ordered by batch_id — later overwrites earlier
        last[r["event_type"]] = (r["state_sum_micro"], r["state_n"])
    assert last == {
        r["event_type"]: (r["state_sum_micro"], r["state_n"]) for r in snap
    }


def test_statestore_joinside_reads_both_buffers(spark):
    """State Data Source over a STREAM-STREAM JOIN checkpoint (r10): the
    joinSide option exposes each side's buffered-row state. With every
    row inside the watermark (no eviction), the left buffer must hold
    exactly the click rows and the right buffer the view rows — the ops
    view of 'what is this join still holding' that sizes state memory."""
    import os
    import shutil

    import pyspark.sql.functions as F

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        f"joinside_{os.getpid()}",
    )
    shutil.rmtree(base, ignore_errors=True)
    src, ck = os.path.join(base, "src"), os.path.join(base, "ck")
    os.makedirs(src)
    rows = [
        (1, "2024-01-01 00:00:00", 7, "click"),
        (2, "2024-01-01 00:01:00", 7, "click"),
        (3, "2024-01-01 00:00:30", 7, "view"),
        (4, "2024-01-01 00:02:00", 7, "view"),
        (5, "2024-01-01 00:03:00", 8, "view"),
    ]
    (
        spark.createDataFrame(rows, "id bigint, ts string, uid bigint, kind string")
        .withColumn("ts", F.to_timestamp("ts"))
        .coalesce(1)
        .write.parquet(os.path.join(src, "c0"))
    )

    def side():
        return (
            spark.readStream.schema("id bigint, ts timestamp, uid bigint, kind string")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    clicks = (
        side().filter(F.col("kind") == "click").withWatermark("ts", "1 hour")
        .select(F.col("id").alias("cid"), F.col("uid").alias("cuid"), F.col("ts").alias("cts"))
    )
    views = (
        side().filter(F.col("kind") == "view").withWatermark("ts", "1 hour")
        .select(F.col("id").alias("vid"), "uid", F.col("ts").alias("vts"))
    )
    q = (
        clicks.join(
            views,
            F.expr("cuid = uid AND vts >= cts AND vts <= cts + interval 10 minutes"),
        )
        .writeStream.format("memory")
        .queryName("w32bd_joinside")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    left = spark.read.format("statestore").option("joinSide", "left").load(ck)
    right = spark.read.format("statestore").option("joinSide", "right").load(ck)
    lv = [r["value"] for r in left.collect()]
    rv = [r["value"] for r in right.collect()]
    assert sorted(x["cid"] for x in lv) == [1, 2]
    assert sorted(x["vid"] for x in rv) == [3, 4, 5]
    shutil.rmtree(base, ignore_errors=True)


def test_aes_ciphertext_deterministic_and_known_vector(spark):
    """fn_crypto_aes (r10): ECB mode is deterministic — the same
    plaintext+key must yield a byte-identical ciphertext across calls
    (GCM's random IV would not), and the fixture key must reproduce the
    known test vector recorded when the key was built."""
    r = spark.sql(
        "SELECT base64(aes_encrypt('secret-text', '0123456789abcdef', 'ECB')) AS a, "
        "base64(aes_encrypt('secret-text', '0123456789abcdef', 'ECB')) AS b"
    ).first()
    assert r["a"] == r["b"] == "1YMLuRcCTvDvc1WXH6CSnQ=="
    bad = spark.sql(
        "SELECT CAST(try_aes_decrypt(aes_encrypt('x', '0123456789abcdef', 'ECB'), "
        "'another-16b-key!', 'ECB') AS STRING) AS d"
    ).first()
    assert bad["d"] is None  # wrong key -> NULL, never garbage


def test_freq_items_superset_and_exact_intersection(spark):
    """agg_freq_items (r11): the raw KPS candidate arrays must be a
    SUPERSET of the truly frequent items (the guarantee the key's
    intersection relies on), and the key's output must be exactly the
    items with exact count > support·n — 'en' alone at sf0.001 (43% of
    docs; every source sits at ~5%)."""
    from week3_2_practice_big_data__spark import REGISTRY
    from week3_2_practice_big_data__spark.io import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    n = docs.count()
    row = docs.stat.freqItems(["lang", "source"], support=0.2).first()
    exact_lang = {
        r["lang"]
        for r in docs.groupBy("lang").count().collect()
        if r["count"] > 0.2 * n
    }
    assert exact_lang <= set(row["lang_freqItems"])
    out = REGISTRY["agg_freq_items"].builder(spark, SF_SMALL).collect()
    assert {(r["col"], r["item"]) for r in out} == {
        ("lang", lang) for lang in exact_lang
    }
    assert exact_lang == {"en"}


def test_approx_quantile_estimates_are_data_values(spark):
    """agg_approx_quantile (r11): beyond the rank-bound oracle, the GK
    estimates must be actual data values (the sketch samples, never
    interpolates) and must be non-decreasing across p."""
    from week3_2_practice_big_data__spark.io import load_table

    ev = load_table(spark, SF_SMALL, "events").where(
        "value IS NOT NULL AND NOT isnan(value) "
        "AND value BETWEEN -1e300 AND 1e300"
    )
    qs = ev.stat.approxQuantile("value", [0.25, 0.5, 0.75], 0.01)
    assert qs == sorted(qs)
    vals = {r["value"] for r in ev.select("value").distinct().collect()}
    assert all(q in vals for q in qs)


def test_sample_by_zero_fraction_and_determinism(spark):
    """agg_sample_by (r11): the zero-fraction stratum ('R') must yield
    exactly 0 sampled rows, strata absent from the fractions map are
    dropped entirely, and the same seed reproduces the same sample."""
    from week3_2_practice_big_data__spark.io import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    fr = {"A": 0.1, "N": 0.3, "R": 0.0}
    s1 = li.stat.sampleBy("l_returnflag", fr, seed=7)
    assert s1.where("l_returnflag = 'R'").count() == 0
    assert set(
        r["l_returnflag"] for r in s1.select("l_returnflag").distinct().collect()
    ) <= {"A", "N"}
    n1 = s1.count()
    n2 = li.stat.sampleBy("l_returnflag", fr, seed=7).count()
    assert n1 == n2
    # the partial map {A only}: N and R rows must not leak through
    s3 = li.stat.sampleBy("l_returnflag", {"A": 0.2}, seed=7)
    assert s3.where("l_returnflag != 'A'").count() == 0


def test_cov_corr_api_agrees_with_closed_form(spark):
    """agg_cov_corr (r11): the key's two ok-booleans are the actual
    assertion — re-derive them here so a silent False would fail pytest
    even if a future oracle edit loosened the hash."""
    from week3_2_practice_big_data__spark import REGISTRY

    row = REGISTRY["agg_cov_corr"].builder(spark, SF_SMALL).first()
    assert row["cov_api_ok"] is True
    assert row["corr_api_ok"] is True
    assert row["n_rows"] > 0


def test_r11_stat_keys_plan_shapes(spark):
    """r11 plan pins: sampleBy lowers to a stateless Filter over the scan
    (no shuffle, no sample exchange); the freqItems verification joins
    broadcast the bounded candidate/total sides (no shuffled join); the
    theta sketch plan carries no join at all on its sketch legs."""
    from week3_2_practice_big_data__spark import REGISTRY
    from week3_2_practice_big_data__spark.io import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select("l_returnflag")
    s = li.stat.sampleBy("l_returnflag", {"A": 0.1, "N": 0.3}, seed=7)
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-side filter, nothing moves

    fi = REGISTRY["agg_freq_items"].builder(spark, SF_SMALL)
    plan = fi._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan

    th = REGISTRY["agg_sketch_theta_ops"].builder(spark, SF_SMALL)
    plan = th._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_offset_page_equals_keyset_page(spark):
    """limit_offset_page (r11): the OFFSET page must be row-identical to
    the keyset-pagination derivation (WHERE (price, key) strictly after
    the last row of page 2, same order, LIMIT n) — the deep-pagination
    scale path the key's docstring prescribes."""
    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark import REGISTRY
    from week3_2_practice_big_data__spark.io import load_table
    from week3_2_practice_big_data__spark.operators.sorts import (
        _PAGE_N,
        _PAGE_OFFSET,
    )

    page = REGISTRY["limit_offset_page"].builder(spark, SF_SMALL).collect()
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderpriority",
    )
    last = (
        orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(_PAGE_OFFSET)
        .orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").desc())
        .first()
    )
    keyset = (
        orders.where(
            (F.col("o_totalprice") < last["o_totalprice"])
            | (
                (F.col("o_totalprice") == last["o_totalprice"])
                & (F.col("o_orderkey") > last["o_orderkey"])
            )
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(_PAGE_N)
        .collect()
    )
    assert [tuple(r) for r in page] == [tuple(r) for r in keyset]


def test_pandas_on_spark_null_group_keys_match_sql(spark):
    """ADVICE r12: ps groupby defaults to dropna=True (pandas semantics
    — NULL group keys silently dropped) while SQL GROUP BY retains
    them. The registered key passes dropna=False; this fixture is the
    first input that would catch a regression: a lineitem slice with
    NULL l_returnflag / l_linestatus rows that pass both the pushed
    time cut and the ps-side qty mask, compared against the unchanged
    SQL oracle."""
    import os

    import duckdb

    from week3_2_practice_big_data__spark.io import TABLES

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        "sf_nullkey",
    )
    stamp = os.path.join(out, "_STAMP_v2")
    if not os.path.exists(stamp):
        # Rebuilding under a new stamp: purge DERIVED caches keyed on this
        # fixture (streaming chunk dirs, band/bucket/IVF indexes...) —
        # their build_once stamps don't encode the source fixture version,
        # so stale v1-derived data would masquerade as 10 spurious
        # streaming mismatches (observed at the v1->v2 bump, r13).
        import glob
        import shutil

        for d in glob.glob(os.path.join(os.path.dirname(out), "*sf_nullkey*")):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        con0 = duckdb.connect()
        # base slice passing the 1998 cut, then rows with NULL group
        # keys (one both-NULL, one flag-only, one status-only) with
        # l_quantity < 25 so the ps mask keeps them
        con0.execute(
            f"""
            COPY (
              SELECT * FROM read_parquet('{SF_SMALL}/lineitem.parquet')
              WHERE l_shipdate >= TIMESTAMP '1998-01-01' LIMIT 40
            ) TO '{out}/_base.parquet' (FORMAT PARQUET)
            """
        )
        con0.execute(f"CREATE TABLE li AS SELECT * FROM read_parquet('{out}/_base.parquet')")
        for flag, status in ((None, None), (None, "O"), ("N", None)):
            con0.execute(
                """
                INSERT INTO li SELECT
                  999900 + row_number() OVER (), l_partkey, l_suppkey,
                  l_linenumber, 7.0, 700.0, 0.05, l_tax, ?, ?, l_shipdate
                FROM li LIMIT 1
                """,
                [flag, status],
            )
        con0.execute(f"COPY li TO '{out}/lineitem.parquet' (FORMAT PARQUET)")
        for t in TABLES:
            if t == "lineitem":
                continue
            con0.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet') LIMIT 5) "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
        with open(stamp, "w") as f:
            f.write("v2")

    from .oracle import compare, duck_run

    q = REGISTRY["qry_pandas_on_spark"]
    got = q.builder(spark, out)
    # the NULL-keyed groups must actually be present in the answer —
    # otherwise this fixture isn't testing what it claims
    flags = [(r["l_returnflag"], r["l_linestatus"]) for r in got.collect()]
    assert (None, None) in flags and (None, "O") in flags and ("N", None) in flags
    compare(got, duck_run(q.oracle, out), "qry_pandas_on_spark:nullkey")
