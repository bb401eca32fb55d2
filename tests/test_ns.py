"""Semantic checks for NORTH-STAR operators (beyond oracle equality)."""

from __future__ import annotations

from week3_2_practice_big_data__spark import REGISTRY

from .conftest import SF_SMALL


def test_jaccard_pairs_meaningful(spark):
    rows = REGISTRY["ns_dedup_ngram_jaccard"].builder(spark, SF_SMALL).collect()
    assert len(rows) > 0, "corpus contains near-dups; threshold should catch some"
    for r in rows:
        assert r["ai"] < r["bi"]
        assert 0.2 <= r["jaccard"] <= 1.0


def test_minhash_recall_of_high_jaccard(spark):
    """LSH banding must recover the strongest Jaccard pairs (high-sim recall)."""
    jac = REGISTRY["ns_dedup_ngram_jaccard"].builder(spark, SF_SMALL).collect()
    mh = REGISTRY["ns_dedup_minhash"].builder(spark, SF_SMALL).collect()
    mh_pairs = {(r["ai"], r["bi"]) for r in mh}
    strong = [(r["ai"], r["bi"]) for r in jac if r["jaccard"] >= 0.8]
    assert strong, "expect at least one very-near-dup pair in the corpus"
    recalled = sum(1 for p in strong if p in mh_pairs)
    assert recalled / len(strong) >= 0.9


def test_simhash_close_for_near_dups(spark):
    """Every very-strong Jaccard pair must surface as a simhash candidate
    pair with small Hamming distance (the simhash key now emits confirmed
    (ai, bi, hamming) pairs, not bare fingerprints)."""
    jac = REGISTRY["ns_dedup_ngram_jaccard"].builder(spark, SF_SMALL).collect()
    sh = {
        (r["ai"], r["bi"]): r["hamming"]
        for r in REGISTRY["ns_dedup_simhash"].builder(spark, SF_SMALL).collect()
    }
    assert sh, "simhash should emit candidate pairs"
    assert all(h <= 5 for h in sh.values())
    strong = [(r["ai"], r["bi"]) for r in jac if r["jaccard"] >= 0.9]
    recalled = sum(1 for p in strong if p in sh)
    assert strong and recalled / len(strong) >= 0.9, (len(strong), recalled)


def test_topk_is_sorted_and_excludes_query(spark):
    rows = REGISTRY["ns_sim_topk"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 10
    cosines = [r["cosine"] for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    assert all(r["vec_id"] != 0 for r in rows)
    assert all(-1.0 <= c <= 1.0 for c in cosines)


def test_lsh_returns_ranked_neighbors(spark):
    """ns_sim_ann_lsh now returns actual top-k neighbors: ranked by exact
    cosine, query excluded, and scores consistent with brute force (same
    fixed-order fold → identical values for the same vec_id)."""
    rows = REGISTRY["ns_sim_ann_lsh"].builder(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 10
    cosines = [r["cosine"] for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    assert all(r["vec_id"] != 0 for r in rows)
    brute = {
        r["vec_id"]: r["cosine"]
        for r in REGISTRY["ns_sim_topk"].builder(spark, SF_SMALL).collect()
    }
    for r in rows:
        if r["vec_id"] in brute:
            assert r["cosine"] == brute[r["vec_id"]]


def test_embed_cosine_pairs_lsh_gated(spark):
    """Candidate gating keeps only confirmed pairs >= τ, ai<bi, and far
    fewer than all-pairs."""
    rows = REGISTRY["ns_dedup_embed_cosine"].builder(spark, SF_SMALL).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["ai"] < r["bi"]
        assert r["cosine"] >= 0.4
    assert len(rows) < 500 * 499 / 2 / 4  # << brute-force pair count


def test_langid_beats_majority_baseline(spark):
    rows = REGISTRY["ns_text_langid"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 500
    # The corpus shares one vocabulary across langs, so profile-overlap ID is
    # weak by construction — but the plumbing must classify every doc.
    assert all(r["predicted"] != "unknown" for r in rows)


def test_feature_stub_deterministic(spark):
    a = REGISTRY["ns_mm_feature_stub"].builder(spark, SF_SMALL).collect()
    b = REGISTRY["ns_mm_feature_stub"].builder(spark, SF_SMALL).collect()
    cols = [f"f{i}" for i in range(8)] + ["features_digest"]
    assert [[r[c] for c in cols] for r in a] == [[r[c] for c in cols] for r in b]
    assert all(r["feat_dim"] == 8 for r in a)
    # Driver-hashable contract (r5 red row): no array/map/list-typed output.
    schema = REGISTRY["ns_mm_feature_stub"].builder(spark, SF_SMALL).schema
    assert all(t.dataType.typeName() not in ("array", "map") for t in schema)
    assert all(len(r["features_digest"]) == 64 for r in a)


def test_mm_decode_meta_consistent(spark):
    rows = REGISTRY["ns_mm_decode_meta"].builder(spark, SF_SMALL).collect()
    assert all(r["meta_consistent"] for r in rows)
    assert all(r["parsed_height"] == r["height"] for r in rows)


def test_dedup_cluster_elects_min_keeper(spark):
    """Clusters cover all minhash-pair docs; keeper is the cluster min and a
    member; every cluster has >= 2 docs (singletons are excluded)."""
    pairs = REGISTRY["ns_dedup_minhash"].builder(spark, SF_SMALL).collect()
    clustered_docs = {r["ai"] for r in pairs} | {r["bi"] for r in pairs}
    rows = REGISTRY["ns_dedup_cluster"].builder(spark, SF_SMALL).collect()
    assert rows
    assert sum(r["n_docs"] for r in rows) == len(clustered_docs)
    for r in rows:
        assert r["n_docs"] >= 2
        assert r["keep_doc"] == r["cluster"]  # converged: min label = min id


def test_text_clean_normalizes(spark):
    rows = REGISTRY["ns_text_clean"].builder(spark, SF_SMALL).collect()
    assert rows
    for r in rows[:50]:
        t = r["clean_text"]
        assert t == t.lower() and "  " not in t and t == t.strip()
        assert r["n_chars_after"] == len(t)


def test_mm_resize_real_pixels(spark):
    """Resize decodes REAL pixels (pure-stdlib PNG subset decoder) and emits
    valid 32x32 thumbnails."""
    from week3_2_practice_big_data__spark.plans.png import decode_png_rgb

    rows = REGISTRY["ns_mm_resize"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 6
    for r in rows:
        px, w, h = decode_png_rgb(bytes(r["thumb"]))
        assert (w, h) == (32, 32) and len(px) == 32 * 32 * 3
        assert r["src_w"] > 32 and r["src_h"] > 32


def test_mm_frame_sample_every_second_frame(spark):
    """Frame sampler parses the 6-frame container and emits frames 0,2,4
    per blob with valid dimensions."""
    from week3_2_practice_big_data__spark.plans.png import png_dimensions

    rows = REGISTRY["ns_mm_frame_sample"].builder(spark, SF_SMALL).collect()
    per_blob = {}
    for r in rows:
        per_blob.setdefault(r["blob_id"], []).append(r["frame_idx"])
        w, h = png_dimensions(bytes(r["frame"]))
        assert (w, h) == (r["width"], r["height"])
    assert all(sorted(v) == [0, 2, 4] for v in per_blob.values())


def test_png_roundtrip():
    """decode(encode(x)) == x for the engine's PNG subset."""
    from week3_2_practice_big_data__spark.plans.png import (
        decode_png_rgb,
        encode_png_rgb,
    )

    pixels = bytes(range(256)) * 3  # 16x16 RGB
    png = encode_png_rgb(pixels, 16, 16)
    out, w, h = decode_png_rgb(png)
    assert (w, h) == (16, 16) and out == pixels


def test_audio_window_deterministic_frames(spark):
    """Audio windowing: 4 frames per track, full frames only, deterministic
    RMS across runs, energy in the plausible int16-noise range."""
    a = REGISTRY["ns_mm_audio_window"].builder(spark, SF_SMALL).collect()
    b = REGISTRY["ns_mm_audio_window"].builder(spark, SF_SMALL).collect()
    assert [r["rms"] for r in a] == [r["rms"] for r in b]
    per_track = {}
    for r in a:
        per_track.setdefault(r["track_id"], []).append(r)
        assert r["n_samples"] == 1024
        assert 15000 < r["rms"] < 25000  # uniform int16 noise RMS ≈ 18918
    assert len(per_track) == 8
    assert all(len(v) == 4 for v in per_track.values())


def test_binary_files_roundtrip_dims(spark):
    """binaryFile ingest: every rendered poster file comes back with
    parseable dimensions and a plausible byte length."""
    rows = REGISTRY["src_binary_files"].builder(spark, SF_SMALL).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r["file_name"].endswith(".png")
        assert r["length"] > 100
        assert r["width"] > 0 and r["height"] > 0


def test_csv_malformed_quarantine(spark):
    """PERMISSIVE ingestion: every corrupt row is quarantined (not dropped,
    not fatal), clean rows reconcile exactly."""
    r = REGISTRY["src_csv_malformed"].builder(spark, SF_SMALL).collect()[0]
    assert r["n_rows"] == 1000
    assert r["n_quarantined"] == 20  # 1000 rows / every-50th corrupt
    assert r["n_clean"] == 980
    assert r["n_rows"] == r["n_clean"] + r["n_quarantined"]
    assert r["clean_total_price"] > 0


def test_image_phash_detects_visual_near_dups(spark):
    """Posters from the same generative config with adjacent blob params
    produce SOME visually-close pairs; Hamming bounds and ordering hold."""
    rows = REGISTRY["ns_mm_image_phash"].builder(spark, SF_SMALL).collect()
    for r in rows:
        assert r["ba"] < r["bb"]
        assert 0 <= r["hamming"] <= 10
    # determinism: same pixels, same fingerprints
    again = REGISTRY["ns_mm_image_phash"].builder(spark, SF_SMALL).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_image_phash_rep_collapse_expands_duplicates(spark):
    """r6 rep-collapse for pixel dedup: byte-identical replicas collapse
    to one fingerprint; within-group pairs emit hamming 0, cross-group
    pairs carry the rep-level hamming to every member combination."""
    import itertools

    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark.functions.multimodal import (
        _posters,
        phash_pipeline,
    )

    posters = _posters(spark, SF_SMALL).localCheckpoint(eager=True)
    base = {
        (r["ba"], r["bb"]): r["hamming"]
        for r in phash_pipeline(spark, posters).collect()
    }
    blob_ids = [r["blob_id"] for r in posters.select("blob_id").collect()]
    k = 3
    rep = spark.range(k).withColumnRenamed("id", "replica")
    dup = (
        posters.crossJoin(rep)
        .withColumn("blob_id", F.col("blob_id") + F.col("replica") * 1000)
        .drop("replica")
    )
    got = {
        (r["ba"], r["bb"]): r["hamming"]
        for r in phash_pipeline(spark, dup).collect()
    }
    expected = {}
    for b in blob_ids:  # within-group byte-identical pairs
        for i, j in itertools.combinations(sorted(b + r * 1000 for r in range(k)), 2):
            expected[(i, j)] = 0
    for (a, b), h in base.items():  # cross-group expansion carries hamming
        for ra in range(k):
            for rb in range(k):
                i, j = sorted((a + ra * 1000, b + rb * 1000))
                expected[(i, j)] = h
    assert got == expected


def test_scene_cut_profile_matches_brightness_ramp(spark):
    """The synthetic container is a uniform brightness ramp: every
    consecutive-frame delta is positive, the profile is near-constant per
    blob, and an adaptive mean+2sigma threshold flags no cuts."""
    rows = REGISTRY["ns_mm_scene_cut"].builder(spark, SF_SMALL).collect()
    per = {}
    for r in rows:
        per.setdefault(r["blob_id"], []).append(r)
    assert per, "no blobs"
    for blob, rs in per.items():
        assert [r["frame_idx"] for r in rs] == list(range(1, 6)), blob
        assert all(r["mean_abs_diff"] > 0 for r in rs), blob
        assert not any(r["is_cut"] for r in rs), blob  # ramp has no cuts


def test_substring_rep_collapse_survives_df_cap_under_duplication(spark):
    """VERDICT r4 item 2: under corpus duplication a span genuinely shared
    by 6 DISTINCT texts used to cross the df ≤ 50 cap once each text
    carried 10 copies (6 × 10 = 60 doc_ids > 50), silently pruning real
    near-dup pairs. With rep-collapse the df counts distinct TEXTS (6),
    so the pairs survive arbitrary duplication. Also pins oracle parity
    and the within-group count = the rep's total distinct span count."""
    import itertools
    import os

    import duckdb

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        "sf_dupcap",
    )
    stamp = os.path.join(out, "_STAMP_v1")
    if not os.path.exists(stamp):
        os.makedirs(out, exist_ok=True)
        shared = " ".join(f"s{i}" for i in range(8))  # one exact 8-token run
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
            "source VARCHAR, n_chars BIGINT)"
        )
        rows = []
        # 6 distinct texts sharing the span, 10 byte-identical copies each
        for t in range(6):
            text = f"{shared} unique{t}a unique{t}b unique{t}c"
            for c in range(10):
                rows.append((t * 100 + c, text))
        # plus unrelated filler texts (no shared span)
        for t in range(6, 12):
            rows.append((t * 100, f"filler{t}a filler{t}b filler{t}c " * 4))
        for doc_id, text in rows:
            con.execute(
                "INSERT INTO d VALUES (?, ?, 'en', 'src', ?)",
                [doc_id, text, len(text)],
            )
        con.execute(f"COPY d TO '{out}/documents.parquet' (FORMAT PARQUET)")
        # duck_run registers every table: tiny normal slices for the rest
        from week3_2_practice_big_data__spark.io import TABLES

        for t in TABLES:
            if t == "documents":
                continue
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet') "
                f"LIMIT 20) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
        with open(stamp, "w") as f:
            f.write("v1")

    from .oracle import compare, duck_run

    q = REGISTRY["ns_dedup_substring"]
    sdf = q.builder(spark, out)
    compare(sdf, duck_run(q.oracle, out), "ns_dedup_substring:dupcap")
    pairs = {(r["da"], r["db"]): r["n_shared_spans"] for r in sdf.collect()}
    reps = [t * 100 for t in range(6)]
    # every cross-text rep pair survives the cap (df = 6 texts, not 60 docs)
    for ra, rb in itertools.combinations(reps, 2):
        assert (ra, rb) in pairs, f"cross-text pair {(ra, rb)} pruned"
        assert pairs[(ra, rb)] == 1  # exactly the one shared span
    # within-group pairs: all C(10,2) copies pair, sharing ALL 4+3 spans?
    # text = 8 shared + 3 unique tokens -> 11 tokens -> 4 distinct spans
    assert pairs[(0, 1)] == 4
    assert sum(1 for (a, b) in pairs if a // 100 == b // 100 == 0) == 45


def test_degenerate_dup_groups_emit_no_pairs_without_signature(spark):
    """ADVICE r5 rep-collapse caveat, closed in r6: byte-identical docs
    whose text yields NO shingles (< 3 tokens, or NULL) produced no
    signature/fingerprint vector-level, so the rep-collapse within-group
    emission must not pair them either. Groups WITH shingles still pair
    fully (est 1.0 / hamming 0 / jaccard 1.0). Pinned in BOTH engines
    (oracle parity on the same fixture)."""
    import itertools
    import os

    import duckdb

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        "sf_degendup",
    )
    stamp = os.path.join(out, "_STAMP_v1")
    if not os.path.exists(stamp):
        os.makedirs(out, exist_ok=True)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
            "source VARCHAR, n_chars BIGINT)"
        )
        rows = []
        # group A: 10 byte-identical 1-token docs (no shingles possible)
        rows += [(i, "solo") for i in range(10)]
        # group B: 5 byte-identical 2-token docs (still < 3 tokens)
        rows += [(100 + i, "two tokens") for i in range(5)]
        # group C: 4 NULL-text docs (grouped together by the rep map)
        rows += [(200 + i, None) for i in range(4)]
        # group D: 5 byte-identical NORMAL docs — must pair fully
        normal = " ".join(f"w{i}" for i in range(8))
        rows += [(300 + i, normal) for i in range(5)]
        for doc_id, text in rows:
            con.execute(
                "INSERT INTO d VALUES (?, ?, 'en', 'src', ?)",
                [doc_id, text, len(text) if text else 0],
            )
        con.execute(f"COPY d TO '{out}/documents.parquet' (FORMAT PARQUET)")
        from week3_2_practice_big_data__spark.io import TABLES

        for t in TABLES:
            if t == "documents":
                continue
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet') "
                f"LIMIT 20) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
        with open(stamp, "w") as f:
            f.write("v1")

    from .oracle import compare, duck_run

    d_pairs = set(itertools.combinations(range(300, 305), 2))
    for key, pair_cols in (
        ("ns_dedup_minhash", ("ai", "bi")),
        ("ns_dedup_simhash", ("ai", "bi")),
        ("ns_dedup_ngram_jaccard", ("ai", "bi")),
    ):
        q = REGISTRY[key]
        sdf = q.builder(spark, out)
        compare(sdf, duck_run(q.oracle, out), f"{key}:degendup")
        got = {(r[pair_cols[0]], r[pair_cols[1]]) for r in sdf.collect()}
        assert got == d_pairs, (key, sorted(got - d_pairs)[:5])


def test_jaccard_rep_collapse_survives_df_cap_under_duplication(spark):
    """Same recall bug class as substring (r5): a shingle genuinely
    shared by 6 distinct texts crossed the df ≤ 50 cap once each text
    carried 10 copies. With rep-collapse the cap counts distinct texts,
    so all 15 cross-text pairs survive; within-group byte-identical
    pairs emit jaccard = 1.0."""
    import itertools

    import os

    # reuse the substring test's fixture (built on demand there), at the
    # same ABSOLUTE path — a relative ".tmp/..." breaks under non-root cwd
    # and forks a second cache entry keyed by the differing sf_dir string.
    test_substring_rep_collapse_survives_df_cap_under_duplication(spark)
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        "sf_dupcap",
    )
    rows = REGISTRY["ns_dedup_ngram_jaccard"].builder(spark, out).collect()
    pairs = {(r["ai"], r["bi"]): r["jaccard"] for r in rows}
    reps = [t * 100 for t in range(6)]
    for ra, rb in itertools.combinations(reps, 2):
        assert (ra, rb) in pairs, f"cross-text pair {(ra, rb)} pruned"
    assert pairs[(0, 1)] == 1.0  # byte-identical within-group pair


def test_pipeline_e2e_funnel_and_decon_fixture(spark):
    """ns_pipeline_e2e (r8 full composition): a crafted corpus where ONE
    surviving doc shares a 5-gram with the eval holdout pins the
    decontamination branch (vacuous on the synthetic driver corpus below
    sf0.1 — the contaminated docs there are eval near-dups that die at the
    dedup stage first). The contaminated doc sits alone in source 'src5',
    so the funnel row shows n_ppl=1, n_final=0; Spark and DuckDB agree on
    the whole fixture output."""
    import os

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        "sf_pipedecon",
    )
    stamp = os.path.join(out, "_STAMP_v1")
    if not os.path.exists(stamp):
        import duckdb

        os.makedirs(out, exist_ok=True)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
            "source VARCHAR, n_chars BIGINT)"
        )
        common = [f"c{i}" for i in range(1, 10)]
        rows = [
            # eval holdout doc (97 % 97 == 0): its distinct 5-grams are the
            # contamination probes
            (97, "c1 c2 c3 c4 c5 x1 x2 x3", "srceval"),
            # the contaminated doc: shares the 'c1 c2 c3 c4 c5' 5-gram,
            # otherwise distinct (passes dedup); common tokens keep its nll
            # out of the tail tercile; isolated in src5
            (12, "c1 c2 c3 c4 c5 a1 a2 a3", "src5"),
        ]
        # head/middle fillers: common vocabulary (low nll), unique
        # suffixes; the slice starts at c2 so no filler contains the eval
        # doc's 'c1 c2 c3 c4 c5' 5-gram
        for j, doc_id in enumerate((13, 14, 15, 20, 21, 22)):
            rows.append(
                (doc_id, " ".join(common[1:7]) + f" f{j}a f{j}b", "src1")
            )
        # tail fillers: all-rare tokens (high nll)
        for j, doc_id in enumerate((23, 28, 29)):
            rows.append(
                (doc_id, " ".join(f"r{j}{i}" for i in range(7)), "src1")
            )
        for doc_id, text, source in rows:
            con.execute(
                "INSERT INTO d VALUES (?, ?, 'en', ?, ?)",
                [doc_id, text, source, len(text)],
            )
        con.execute(f"COPY d TO '{out}/documents.parquet' (FORMAT PARQUET)")
        from week3_2_practice_big_data__spark.io import TABLES

        for t in TABLES:
            if t == "documents":
                continue
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet') "
                f"LIMIT 20) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
        with open(stamp, "w") as f:
            f.write("v1")

    from .oracle import compare, duck_run

    q = REGISTRY["ns_pipeline_e2e"]
    sdf = q.builder(spark, out)
    compare(sdf, duck_run(q.oracle, out), "ns_pipeline_e2e:pipedecon")
    by_src = {r["source"]: r for r in sdf.collect()}
    # the contaminated doc survived every stage EXCEPT decontamination
    assert by_src["src5"]["n_ppl"] == 1, by_src["src5"]
    assert by_src["src5"]["n_final"] == 0, by_src["src5"]
    # the eval doc never entered the funnel (srceval row absent entirely)
    assert "srceval" not in by_src
    # fillers: nobody else was decontaminated
    assert by_src["src1"]["n_final"] == by_src["src1"]["n_ppl"] > 0


def test_pipeline_e2e_funnel_invariants(spark):
    """Monotone survival funnel + every stage keeps AND drops mass at
    sf0.001 (no vacuous stage — the r8 eyeball discipline made permanent),
    and the shuffle positions are a permutation of the final survivors."""
    rows = REGISTRY["ns_pipeline_e2e"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 20
    tot = {
        c: sum(r[c] for r in rows)
        for c in ("n_raw", "n_url", "n_dedup", "n_qual", "n_ppl", "n_final")
    }
    for r in rows:
        assert r["n_raw"] >= r["n_url"] >= r["n_dedup"] >= r["n_qual"]
        assert r["n_qual"] >= r["n_ppl"] >= r["n_final"]
    # each stage drops corpus-wide mass... (decon is sf-dependent: vacuous
    # at sf0.001 on the driver corpus, pinned by the fixture test above)
    assert tot["n_raw"] > tot["n_url"] > tot["n_dedup"] > tot["n_qual"]
    assert tot["n_qual"] > tot["n_ppl"] >= tot["n_final"] > 0
    # ...and keeps mass in >= 15 of 20 sources at every stage
    for c in ("n_url", "n_dedup", "n_qual"):
        assert sum(1 for r in rows if r[c] > 0) >= 15, c
    # global shuffle: max position over all sources == total survivors
    assert max(r["max_pos"] for r in rows) == tot["n_final"]
    # mixture: both the capped and the uncapped epoch branches carry mass
    eps = [r["epochs"] for r in rows if r["toks"] > 0]
    assert any(e == 4.0 for e in eps) and any(0.0 < e < 4.0 for e in eps)
    # weights span the 1..4 range (source-id hash)
    assert {r["weight"] for r in rows if r["toks"] > 0} == {1, 2, 3, 4}


def test_mm_pipeline_e2e_decodes_each_distinct_image_once(spark):
    """ns_mm_pipeline_e2e (r9): the composed media pipeline decodes each
    DISTINCT image exactly once across all fused stages (accumulator-
    counted inside the kernel), the funnel invariants hold, and byte-
    identical replicas add ZERO decodes while member-level stats scale
    exactly k× (the rep-collapse composition claim)."""
    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark.functions.multimodal import (
        _posters,
        mm_pipeline_e2e,
    )

    posters = _posters(spark, SF_SMALL).localCheckpoint(eager=True)
    n_posters = posters.count()
    acc = spark.sparkContext.accumulator(0)
    rows = mm_pipeline_e2e(spark, posters, decode_counter=acc).collect()
    assert acc.value == n_posters, "fused kernel must decode once per rep"
    tot = {
        c: sum(r[c] for r in rows)
        for c in (
            "n_blobs", "n_distinct", "n_exact_dup", "n_meta_ok",
            "n_frames", "n_cuts",
        )
    }
    assert tot["n_blobs"] == n_posters == tot["n_distinct"]
    assert tot["n_exact_dup"] == 0
    assert tot["n_meta_ok"] == n_posters  # parsed IHDR == stored metadata
    assert tot["n_frames"] == 3 * n_posters  # every 2nd of 6 frames
    assert tot["n_cuts"] == 0  # uniform brightness ramp: no true cuts
    # duplication ladder: byte-identical replicas collapse before decode
    k = 4
    rep = spark.range(k).withColumnRenamed("id", "replica")
    dup = (
        posters.crossJoin(rep)
        .withColumn("blob_id", F.col("blob_id") + F.col("replica") * 1000)
        .drop("replica")
        .localCheckpoint(eager=True)
    )
    acc2 = spark.sparkContext.accumulator(0)
    rows2 = mm_pipeline_e2e(spark, dup, decode_counter=acc2).collect()
    assert acc2.value == n_posters, "replicas must NOT decode"
    tot2 = {c: sum(r[c] for r in rows2) for c in ("n_blobs", "n_distinct", "n_exact_dup")}
    assert tot2["n_blobs"] == k * n_posters
    assert tot2["n_distinct"] == n_posters
    assert tot2["n_exact_dup"] == (k - 1) * n_posters
    # member expansion: per-source member stats scale exactly k×
    m1 = {r["source"]: r for r in rows}
    m2 = {r["source"]: r for r in rows2}
    assert set(m1) == set(m2)
    for s in m1:
        for c in ("n_frames", "thumb_bytes", "feat0_u_sum", "r_u_sum"):
            assert m2[s][c] == k * m1[s][c], (s, c)
        assert m2[s]["n_near_pairs"] == m1[s]["n_near_pairs"]


def test_vocab_coverage_bounds_and_conservation(spark):
    """ns_vocab_coverage (r9): OOV never exceeds totals, rates in [0,1],
    the source rollup conserves the corpus token count, and the top-V
    vocabulary actually bites (some OOV mass exists on this corpus)."""
    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark.functions.text import (
        TOK_REF,
        cached_tokens,
    )

    rows = REGISTRY["ns_vocab_coverage"].builder(spark, SF_SMALL).collect()
    assert rows
    total_tokens = spark.sql(
        f"SELECT count(*) AS n FROM ({TOK_REF})", tok=cached_tokens(spark, SF_SMALL)
    ).collect()[0]["n"]
    assert sum(r["n_tokens"] for r in rows) == total_tokens
    assert sum(r["n_oov"] for r in rows) > 0  # the V-cap bites
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert 0 <= r["n_oov_types"] <= r["n_oov"] or r["n_oov"] == 0
        assert 0.0 <= r["oov_rate"] <= 1.0
        assert 0.0 <= r["max_doc_oov_rate"] <= 1.0
        assert r["max_doc_oov"] <= r["n_oov"]


def test_topic_mixture_allocates_balanced_budget(spark):
    """ns_topic_mixture (r9): topic doc counts conserve the corpus, the
    weight is exactly total*1e6 DIV (K*n), bigger topics get smaller
    weights, and the allocated budget stays the right order of magnitude
    (Σ w_c·tok_c ≈ total_tokens·1e6 up to topic/token-mass covariance)."""
    from week3_2_practice_big_data__spark.functions.similarity import _KME_K
    from week3_2_practice_big_data__spark.io import load_table

    rows = REGISTRY["ns_topic_mixture"].builder(spark, SF_SMALL).collect()
    assert len(rows) == _KME_K
    n_vecs = load_table(spark, SF_SMALL, "embeddings").count()
    total = sum(r["n_docs"] for r in rows)
    assert total == n_vecs
    tok_total = sum(r["n_tokens"] for r in rows)
    assert tok_total > 0
    alloc = sum(r["alloc_tokens_u"] for r in rows)
    assert 0.3 * tok_total * 1_000_000 <= alloc <= 3 * tok_total * 1_000_000
    for r in rows:
        want = (total * 1_000_000) // (_KME_K * r["n_docs"]) if r["n_docs"] else 0
        assert r["weight_u"] == want
        assert r["alloc_tokens_u"] == want * r["n_tokens"]
    sized = sorted((r for r in rows if r["n_docs"]), key=lambda r: r["n_docs"])
    if len(sized) >= 2:
        assert sized[0]["weight_u"] >= sized[-1]["weight_u"]
