"""Streaming semantics checks (SURVEY §2.1-I): append-mode finalization and
stateful dedup, validated against the batch oracles."""

from __future__ import annotations

import pytest

from week3_2_practice_big_data__spark import REGISTRY

from .conftest import SF_SMALL, stream_hygiene


def test_watermark_emits_subset_of_batch_windows(spark):
    streamed = REGISTRY["stream_watermark_late"].builder(spark, SF_SMALL).collect()
    batch = REGISTRY["stream_tumbling_agg"].builder(spark, SF_SMALL).collect()
    batch_map = {(r["win_start"], r["event_type"]): r["n"] for r in batch}
    assert 0 < len(streamed) <= len(batch)
    for r in streamed:
        key = (r["win_start"], r["event_type"])
        assert key in batch_map, f"streamed window {key} not in batch result"
        assert r["n"] == batch_map[key], f"count mismatch for {key}"
    # append mode must hold back the unfinalized tail (watermark < max ts)
    assert len(streamed) < len(batch)


def test_stream_dedup_removes_replayed_chunk(spark):
    rows = REGISTRY["stream_dedup_state"].builder(spark, SF_SMALL).collect()
    ids = [r["event_id"] for r in rows]
    assert len(ids) == len(set(ids)), "duplicates survived stateful dedup"
    assert len(ids) == 1000  # 1100 streamed rows incl. 100 replayed dups


def test_file_rate_source_progresses_batch_by_batch(spark):
    """File-rate source (maxFilesPerTrigger=1): final window counts equal
    the batch tumbling agg, and the update-mode multiplicity proves the
    state advanced across micro-batches — windows straddling a file-chunk
    boundary must have been updated in more than one batch."""
    import pyspark.sql.functions as F
    from week3_2_practice_big_data__spark.io import load_table

    rows = REGISTRY["stream_tumbling_file_rate"].builder(spark, SF_SMALL).collect()
    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy(F.window("ts", "86400 seconds"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_start"),
            "event_type",
            "n",
        )
        .collect()
    )
    batch_map = {(r["win_start"], r["event_type"]): r["n"] for r in batch}
    assert len(rows) == len(batch_map)
    for r in rows:
        assert r["n"] == batch_map[(r["win_start"], r["event_type"])]
        assert 1 <= r["n_updates"] <= 4  # at most one update per file chunk
    # 4 time-ordered chunks → 3 boundaries; the windows straddling them
    # must show multi-batch progression.
    assert any(r["n_updates"] >= 2 for r in rows)


def test_custom_state_matches_batch_totals(spark):
    """applyInPandasWithState final per-user counts == batch groupBy."""
    import pyspark.sql.functions as F
    from week3_2_practice_big_data__spark.io import load_table

    streamed = REGISTRY["stream_custom_state"].builder(spark, SF_SMALL).collect()
    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    batch_map = {r["user_id"]: r["n"] for r in batch}
    assert len(streamed) == len(batch_map)
    for r in streamed:
        assert r["n_events"] == batch_map[r["user_id"]]


def test_custom_state_runs_the_streaming_width(spark):
    """A Python-stateful stream runs the one streaming width,
    max(4, cores // 8), not a wider one of its own: every data batch of
    stream_custom_state has that many state partitions, and its state
    crosses a batch boundary (at least two data batches)."""
    from week3_2_practice_big_data__spark.streaming.streams import _query_events

    with _query_events(spark) as events:
        REGISTRY["stream_custom_state"].builder(spark, SF_SMALL).collect()
        assert len(events.started) == 1, events.started
        qid = events.started[0]
        events.wait(qid)
    width = max(4, spark.sparkContext.defaultParallelism // 8)
    widths = [
        [op.numShufflePartitions for op in p.stateOperators]
        for p in events.progress(qid)
        if p.numInputRows > 0
    ]
    assert len(widths) >= 2, widths
    assert all(w == [width] for w in widths), (width, widths)


def test_foreachbatch_sink_preserves_all_rows(spark):
    rows = REGISTRY["stream_foreachbatch"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 4  # one row per micro-batch chunk
    assert sum(r["n"] for r in rows) == 1000


def test_transform_with_state_matches_custom_state(spark):
    """The Spark 4 StatefulProcessor key must produce the exact per-user
    totals of its applyInPandasWithState predecessor (same semantics, new
    API) — and of the batch aggregation. Its worker protocol needs
    protobuf; where the runtime lacks it, the key must be gated OUT of the
    registry (a registered-but-erroring key would fail the driver gate)."""
    import pytest

    from week3_2_practice_big_data__spark.streaming.modern import _HAS_TWS

    if not _HAS_TWS:
        assert "stream_transform_with_state" not in REGISTRY
        pytest.skip("runtime lacks protobuf for transformWithStateInPandas")
    tws = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in REGISTRY["stream_transform_with_state"].builder(spark, SF_SMALL).collect()
    }
    old = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in REGISTRY["stream_custom_state"].builder(spark, SF_SMALL).collect()
    }
    assert tws == old


def test_trigger_availablenow_drains_backlog(spark):
    """AvailableNow must terminate on its own having seen every event."""
    rows = REGISTRY["stream_trigger_availablenow"].builder(spark, SF_SMALL).collect()
    assert sum(r["n"] for r in rows) == 1000  # full events table drained


def test_parquet_sink_matches_watermarked_memory_sink(spark):
    """The file sink must land exactly the windows the append-mode memory
    sink emits (same watermark finalization semantics, different sink)."""
    fs = REGISTRY["stream_sink_parquet"].builder(spark, SF_SMALL).collect()
    mem = REGISTRY["stream_watermark_late"].builder(spark, SF_SMALL).collect()
    assert {(r["win_start"], r["event_type"], r["n"]) for r in fs} == {
        (r["win_start"], r["event_type"], r["n"]) for r in mem
    }


def test_rate_source_generates_dense_sequence(spark):
    rows = REGISTRY["stream_rate_source"].builder(spark, SF_SMALL).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_rows"] >= 1
    assert r["max_value"] == r["n_rows"] - 1  # dense 0..N-1
    assert abs(r["n_even"] - r["n_rows"] / 2) <= 1


def test_socket_source_matches_file_chunk_watermark_path(spark):
    """Lockstep proof for the Kafka-shaped unbounded source (r6): the
    socket-fed watermarked topology must finalize exactly the windows the
    file-chunk path emits — the source type changes, the watermark
    semantics must not. Run twice to cover the broker-restart path."""
    sock = REGISTRY["stream_unbounded_socket"].builder(spark, SF_SMALL).collect()
    files = REGISTRY["stream_watermark_late"].builder(spark, SF_SMALL).collect()
    assert {(r["win_start"], r["event_type"], r["n"]) for r in sock} == {
        (r["win_start"], r["event_type"], r["n"]) for r in files
    }
    assert len(sock) > 0
    again = REGISTRY["stream_unbounded_socket"].builder(spark, SF_SMALL).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in sock}


def test_stream_cep_detects_patterns_across_chunk_boundaries(spark):
    """stream_event_pattern_cep: the whole point of the GroupState buffer
    is pattern continuity across micro-batch boundaries. Craft 8 events
    (one per chunk-rank slot; 4 chunks of 2) where the strict
    view→click→purchase triple spans the chunk0/chunk1 boundary and the
    2-error burst spans chunk2/chunk3 — both MUST be detected, and the
    streamed result must equal the batch CEP key on the same input."""
    import os
    import shutil

    import pandas as pd

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf = os.path.join(repo, ".tmp", "sf_cepb")
    shutil.rmtree(sf, ignore_errors=True)
    os.makedirs(sf, exist_ok=True)
    base = pd.Timestamp("2024-01-01 00:00:00")
    mins = lambda m: base + pd.Timedelta(minutes=m)  # noqa: E731
    rows = [
        # rank 1-2 → chunk 0; ranks 3-4 → chunk 1 (per=2): the triple
        # view(r2) click(r3) purchase(r4) straddles the 0/1 boundary
        (1, mins(0), 7, "scroll"),
        (2, mins(1), 7, "view"),
        (3, mins(2), 7, "click"),
        (4, mins(3), 7, "purchase"),
        # ranks 5-6 → chunk 2; 7-8 → chunk 3: the error pair (r6, r7)
        # straddles the 2/3 boundary; r8 closes the run
        (5, mins(4), 7, "view"),
        (6, mins(5), 7, "error"),
        (7, mins(6), 7, "error"),
        (8, mins(7), 7, "scroll"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type"]
    )
    pdf["value"] = 1.0
    pdf["props"] = "{}"
    spark.createDataFrame(pdf).repartition(1).write.mode("overwrite").parquet(
        os.path.join(sf, "events.parquet")
    )
    streamed = {
        tuple(r)
        for r in REGISTRY["stream_event_pattern_cep"].builder(spark, sf).collect()
    }
    batch = {
        tuple(r)
        for r in REGISTRY["win_event_pattern_cep"].builder(spark, sf).collect()
    }
    assert streamed == batch
    # (user 7, 1 conversion, 1 burst, longest 2) — both boundary patterns
    assert streamed == {(7, 1, 1, 2)}


def test_outer_join_watermark_null_emission_boundary(spark):
    """stream_stream_outer_join (r8): crafted fixture pinning all three
    emission classes — a click that MATCHES a late-but-in-range view, a
    never-matched click whose window the watermark closed (emitted with
    NULL view columns), and never-matched clicks whose window is still
    open at end-of-stream (withheld) — with two clicks placed at the exact
    ±1 ms eviction boundary, so the oracle's state-watermark predicate
    (click_ms <= wm_ms - range_ms - 1) is pinned against the engine, not
    assumed. Cross-engine compare runs on the same fixture."""
    import os

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        "sf_ssojfix",
    )
    stamp = os.path.join(out, "_STAMP_v1")
    if not os.path.exists(stamp):
        import duckdb

        os.makedirs(out, exist_ok=True)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE e (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type VARCHAR, value DOUBLE, props VARCHAR)"
        )
        t0_ms = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
        tmax_ms = 1_704_844_800_000  # 2024-01-10 00:00:00 UTC
        # final GLOBAL wm = tmax + 30 min (sentinel) - 1 s (the sentinel
        # view lags its click, and global wm = min over sides) - 10 min
        wm_ms = tmax_ms + 1_200_000 - 1_000
        b_ms = wm_ms - 360 * 60_000  # eviction boundary wm - range
        rows = [
            (100, t0_ms, 1, "click"),  # matched by the late view below
            (101, t0_ms + 21_540_000, 1, "view"),  # +5h59m: in range
            (200, t0_ms, 2, "click"),  # never matched, old -> NULL-emitted
            (201, t0_ms + 21_600_001, 2, "view"),  # +6h + 1ms: OUT of range
            (300, b_ms, 3, "click"),  # exactly wm - range: withheld
            (400, b_ms - 1, 4, "click"),  # 1 ms older: evicted, emitted
            (500, b_ms + 1, 5, "click"),  # 1 ms newer: withheld
            (600, tmax_ms - 3_600_000, 6, "click"),  # recent: withheld
            (700, tmax_ms, 99, "view"),  # max-ts anchor
        ]
        for eid, ms, uid, typ in rows:
            con.execute(
                "INSERT INTO e VALUES (?, make_timestamp(? * 1000), ?, ?, "
                "0e0, NULL)",
                [eid, ms, uid, typ],
            )
        con.execute(f"COPY e TO '{out}/events.parquet' (FORMAT PARQUET)")
        from week3_2_practice_big_data__spark.io import TABLES

        for t in TABLES:
            if t == "events":
                continue
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet') "
                f"LIMIT 20) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
        with open(stamp, "w") as f:
            f.write("v1")

    from .oracle import compare, duck_run

    q = REGISTRY["stream_stream_outer_join"]
    sdf = q.builder(spark, out)
    compare(sdf, duck_run(q.oracle, out), "stream_stream_outer_join:fix")
    got = {
        (r["click_id"], r["view_id"]) for r in sdf.collect()
    }
    assert got == {(100, 101), (200, None), (400, None)}, sorted(got)


def test_session_window_native_merge_and_boundary(spark):
    """stream_session_window_native (r9): crafted fixture pinning the
    streaming-distinctive session machinery — (a) a session that MERGES
    across a micro-batch boundary (u1's second event arrives in the next
    chunk, 200 s < the 5-min gap), (b) the inclusive eviction boundary
    (u1's merged session ends at exactly wm*1000 us and IS emitted),
    (c) microsecond-exact withholding (u4's session ends 500 us past the
    ms-floored watermark and is NOT emitted), (d) an open session at
    end-of-stream (u3, withheld), and (e) the EXACT-GAP merge (ADVICE
    r9, resolved by live calibration AGAINST the advisory claim): u5's
    two events are exactly 300.000000 s apart — streaming session state
    MERGES the adjacent ranges into one session ending at +600 s, which
    the watermark (+500 s) withholds entirely; had the engine split
    them, the first session (end +300 s <= wm) WOULD be emitted, so the
    absence of any u5 row is the sharp pin. The gaps-and-islands oracle
    (new session at diff > gap) agrees. The fixture is sized so the
    final watermark (max real ts + 30 min sentinel - 6 h delay) lands at
    exactly +500 s. Cross-engine compare runs on the same fixture."""
    import os

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        "sf_sessfix",
    )
    stamp = os.path.join(out, "_STAMP_v2")
    if not os.path.exists(stamp):
        import duckdb

        os.makedirs(out, exist_ok=True)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE e (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type VARCHAR, value DOUBLE, props VARCHAR)"
        )
        t0_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
        rows = [
            # (event_id, offset_us, user_id)
            (1, 0, 1),  # u1 session opens in chunk 0
            (2, 100_000_000, 2),  # u2: single-event session [100, 400)
            (3, 200_000_000, 1),  # u1 extends ACROSS the chunk boundary
            (4, 200_000_500, 4),  # u4: end 500.0005 s — 500 us past wm
            (6, 0, 5),  # u5: exact-gap pair, first event
            (7, 300_000_000, 5),  # u5: EXACTLY gap later -> MERGES
            (5, 20_300_000_000, 3),  # u3: open at stream end; also the
            # max-real-ts anchor: wm = 20300 + 1800 (sentinel) - 21600
            # (delay) = exactly +500 s
        ]
        for eid, us, uid in rows:
            con.execute(
                "INSERT INTO e VALUES (?, make_timestamp(?), ?, 'view', "
                "0e0, NULL)",
                [eid, t0_us + us, uid],
            )
        con.execute(f"COPY e TO '{out}/events.parquet' (FORMAT PARQUET)")
        from week3_2_practice_big_data__spark.io import TABLES

        for t in TABLES:
            if t == "events":
                continue
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet') "
                f"LIMIT 20) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
        with open(stamp, "w") as f:
            f.write("v2")

    from .oracle import compare, duck_run

    q = REGISTRY["stream_session_window_native"]
    sdf = q.builder(spark, out)
    compare(sdf, duck_run(q.oracle, out), "stream_session_window_native:fix")
    got = {
        (r["user_id"], r["session_start_us"], r["session_end_us"],
         r["n_events"])
        for r in sdf.collect()
    }
    t0 = 1_704_067_200_000_000
    assert got == {
        (1, t0, t0 + 500_000_000, 2),  # merged across the chunk boundary,
        # end == wm*1000 exactly — inclusive boundary pinned
        (2, t0 + 100_000_000, t0 + 400_000_000, 1),
        # u5's exact-gap pair MERGED into one session ending +600 s >
        # wm +500 s: withheld — no u5 row (a split would have emitted
        # the first half)
    }, sorted(got)


def test_dedup_within_watermark_runs_distinct_operator(spark):
    """stream_dedup_within_watermark (r9): the bounded-state API must
    plan the DeduplicateWithinWatermark operator (not silently the
    unbounded Deduplicate), and both dedup keys must emit the identical
    exactly-once row set on the replayed-duplicates source."""
    from week3_2_practice_big_data__spark.streaming.streams import (
        _WATERMARK,
        _event_stream,
    )

    s = _event_stream(spark, SF_SMALL, dup_first=100)
    bounded = s.withWatermark("ts", _WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    plan = bounded._jdf.queryExecution().logical().toString()
    assert "DeduplicateWithinWatermark" in plan
    a = REGISTRY["stream_dedup_state"].builder(spark, SF_SMALL).collect()
    b = REGISTRY["stream_dedup_within_watermark"].builder(
        spark, SF_SMALL
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(b) == 1000


def test_checkpoint_restart_recovers_boundary_state(spark):
    """stream_checkpoint_restart (r9): crafted fixture where one window's
    rows deliberately SPAN the restart boundary — the chunker puts ranks
    1-4 in life 1 and ranks 5-8 in life 2, and the first six events share
    the [0, 600s) window. The emitted count 6 is only possible if life 2
    recovered life 1's partial state (fresh state would emit 2) AND did
    not reprocess life 1's files (reprocessing would double-count or
    double-emit). The two-life run must also equal the single-life
    topology on the normal corpus."""
    import os

    two_lives = {
        (r["win_start"], r["event_type"]): r["n"]
        for r in REGISTRY["stream_checkpoint_restart"]
        .builder(spark, SF_SMALL).collect()
    }
    one_life = {
        (r["win_start"], r["event_type"]): r["n"]
        for r in REGISTRY["stream_sink_parquet"]
        .builder(spark, SF_SMALL).collect()
    }
    assert two_lives == one_life and two_lives
    # crafted boundary fixture
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        "sf_ckresfix",
    )
    stamp = os.path.join(out, "_STAMP_v1")
    if not os.path.exists(stamp):
        import duckdb

        os.makedirs(out, exist_ok=True)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE e (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type VARCHAR, value DOUBLE, props VARCHAR)"
        )
        t0_us = 1_704_067_200_000_000
        # ranks 1-6 inside [0, 600s); rank boundary after rank 4; two far
        # events finalize the window (wm = 7200 - 600 = 6600 s)
        offs = [0, 60, 120, 180, 200, 240, 3_600, 7_200]
        for i, sec in enumerate(offs):
            con.execute(
                "INSERT INTO e VALUES (?, make_timestamp(?), ?, 'view', "
                "0e0, NULL)",
                [i + 1, t0_us + sec * 1_000_000, i % 3],
            )
        con.execute(f"COPY e TO '{out}/events.parquet' (FORMAT PARQUET)")
        from week3_2_practice_big_data__spark.io import TABLES

        for t in TABLES:
            if t == "events":
                continue
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet') "
                f"LIMIT 20) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
        with open(stamp, "w") as f:
            f.write("v1")
    from .oracle import compare, duck_run

    q = REGISTRY["stream_checkpoint_restart"]
    sdf = q.builder(spark, out)
    compare(sdf, duck_run(q.oracle, out), "stream_checkpoint_restart:fix")
    rows = {(r["win_start"], r["n"]) for r in sdf.collect()}
    t0 = 1_704_067_200
    # the straddling window: 4 rows from life 1 + 2 from life 2
    assert (t0, 6) in rows, sorted(rows)
    assert (t0 + 3_600, 1) in rows  # the 3600 s singleton, finalized


def test_pipeline_e2e_restart_straddles_dedup_and_session_state(spark):
    """stream_pipeline_e2e (r10): crafted two-life fixture pinning that
    BOTH stateful contracts straddle the checkpoint restart — (a) u1's
    session opens in life 1 and its second event arrives in life 2
    (200 s < gap): the merged session [t0, t0+500 s) proves session
    state recovered; (b) life 2 REPLAYS u1's life-1 event (same
    event_id, same ts, NOT late at replay time): the recovered dedup
    state must remove it, so the merged session counts 2 events, not 3;
    (c) u2's closed session emits, u3's trailing session is withheld by
    the 6 h watermark. The observe() node's per-life totals pin
    exactly-once across the restart (life 1 = 2 rows post-dedup,
    life 2 = 4: u1's second event, u3, two sentinels — the replay
    contributes zero)."""
    import os
    import shutil

    import duckdb
    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark.streaming.streams import (
        _event_stream,
        _pipeline_e2e_transform,
        _query,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(repo, ".tmp", f"spe2efix_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    stage = os.path.join(base, "stage")
    sink, ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")
    os.makedirs(stage, exist_ok=True)

    t0_us = 1_704_067_200_000_000
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )

    def chunk(name, rows):
        con.execute("DELETE FROM e")
        for eid, us, uid in rows:
            con.execute(
                "INSERT INTO e VALUES (?, make_timestamp(?), ?, 'view', "
                "0e0, NULL)",
                [eid, t0_us + us, uid],
            )
        con.execute(
            f"COPY e TO '{stage}/{name}.parquet' (FORMAT PARQUET)"
        )

    def life():
        writer = (
            _pipeline_e2e_transform(_event_stream(spark, SF_SMALL, path=stage))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )
        with _query(spark, writer) as query:
            query.processAllAvailable()
            progress = list(query.recentProgress)
        return sum(
            int(
                (p.get("observedMetrics") or {})
                .get("w32bd_spe2e_obs", {"n_post_dedup": 0})["n_post_dedup"]
            )
            for p in progress
            if (p.get("observedMetrics") or {}).get("w32bd_spe2e_obs")
            is not None
        )

    # life 1: u1 opens a session; u2 completes one
    chunk("chunk=00", [(1, 0, 1), (2, 100_000_000, 2)])
    obs1 = life()
    # life 2: u1's session CONTINUES (200 s < gap) + u1's life-1 event
    # REPLAYED (dedup straddle) + u3 opens the trailing session + two
    # far-future sentinels (6 h + 30 min) that finalize everything closed
    chunk("chunk=01", [(3, 200_000_000, 1), (1, 0, 1)])
    chunk("chunk=02", [(4, 21_600_000_000, 3)])
    chunk("chunk=03", [(-1, 23_400_000_000, -1)])
    chunk("chunk=04", [(-2, 23_401_000_000, -2)])
    obs2 = life()

    got = {
        (r["user_id"], r["session_start_us"], r["session_end_us"],
         r["n_events"])
        for r in spark.read.parquet(sink)
        .filter(F.col("user_id") >= 0)
        .collect()
    }
    assert got == {
        # merged ACROSS the restart, replay removed by RECOVERED dedup
        # state: 2 events, not 3
        (1, t0_us, t0_us + 500_000_000, 2),
        (2, t0_us + 100_000_000, t0_us + 400_000_000, 1),
    }, sorted(got)
    assert obs1 == 2, obs1  # life 1: two first-seen events
    assert obs2 == 4, obs2  # life 2: replay contributes ZERO post-dedup
    shutil.rmtree(base, ignore_errors=True)


def test_python_datasource_stream_offset_progression(spark):
    """src_python_datasource_stream (r10): the simple stream reader must
    advance through MULTIPLE micro-batches (offset-range progression,
    VERDICT r9 item 4) and deliver every generated row exactly once —
    pinned by driving the registered source format through a fresh
    counting query after the key itself has run (which registers the
    format on this session)."""
    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark.sources.generators import (
        _PYDSS_CHUNK,
        _PYDSS_N,
    )

    # running the key registers the w32bd_lcg_stream format
    REGISTRY["src_python_datasource_stream"].builder(spark, SF_SMALL)

    qname = "w32bd_pydss_prog"
    for q in spark.streams.active:
        if q.name == qname:
            q.stop()
    query = (
        spark.readStream.format("w32bd_lcg_stream")
        .load()
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .start()
    )
    try:
        query.processAllAvailable()
        progress = list(query.recentProgress)
    finally:
        query.stop()
    data_batches = [p for p in progress if int(p["numInputRows"]) > 0]
    assert len(data_batches) >= 2, len(data_batches)
    total = sum(int(p["numInputRows"]) for p in progress)
    assert total == _PYDSS_N + 2, total  # every row + 2 sentinels, once
    # offsets advance monotonically through the chunk grid (endOffset
    # arrives as the PYTHON repr of the offset dict, not JSON)
    import ast as _ast

    ends = []
    for p in data_batches:
        off = p["sources"][0]["endOffset"]
        off = _ast.literal_eval(off) if isinstance(off, str) else off
        ends.append(int(off["offset"]))
    assert ends == sorted(ends) and len(set(ends)) == len(ends), ends
    assert ends[0] <= _PYDSS_CHUNK, ends[:3]
    n = spark.table(qname).collect()[0]["n"]
    assert n == _PYDSS_N + 2, n


def test_python_datasource_stream_sink_commits_per_batch(spark):
    """stream_python_datasource_sink (r10): the streaming writer must
    publish one manifest PER committed micro-batch (the exactly-once
    unit), manifests must reference only existing staged files, and the
    union of committed rows must equal the memory-sink run of the same
    topology (stream_watermark_late)."""
    import json
    import os

    from .conftest import newest_run_dir

    out_df = REGISTRY["stream_python_datasource_sink"].builder(
        spark, SF_SMALL
    )
    got = sorted(tuple(r) for r in out_df.collect())
    out = newest_run_dir("pydsk_out")
    manifests = sorted(
        e for e in os.listdir(out) if e.startswith("_MANIFEST_")
    )
    assert len(manifests) >= 1, manifests
    for mf in manifests:
        with open(os.path.join(out, mf)) as f:
            for fname in json.load(f):
                assert os.path.exists(os.path.join(out, fname)), fname
    ref = sorted(
        tuple(r)
        for r in REGISTRY["stream_watermark_late"]
        .builder(spark, SF_SMALL)
        .collect()
    )
    assert got == ref


def test_scoped_conf_rolls_back_on_partial_failure(spark):
    """session.scoped_confs: if a later set() raises (static conf on an
    active session), the keys already applied must be rolled back before
    the exception propagates — the session is never left half-modified.
    Also pins the restore-by-unset path for keys that were unset before
    entry."""
    import pytest

    from week3_2_practice_big_data__spark.session import scoped_confs

    probe = "spark.w32bd.test.scopedconf.probe"
    static = "spark.sql.warehouse.dir"  # static: set() raises when active
    assert spark.conf.get(probe, None) is None
    with pytest.raises(Exception):
        with scoped_confs(spark, {probe: "set-me", static: "/nope"}):
            raise AssertionError("enter must fail before the body runs")
    assert spark.conf.get(probe, None) is None  # rolled back
    # normal path still restores unset keys by unsetting
    with scoped_confs(spark, {probe: "scoped"}):
        assert spark.conf.get(probe) == "scoped"
    assert spark.conf.get(probe, None) is None


def test_query_confs_apply_at_start_only(spark):
    """_query restores the streaming shuffle width and its `confs` as soon
    as start() returns, which is safe only because the query copies the
    session conf when it starts. Pin that: while processAllAvailable()
    runs the session already reads its old values, yet the query's state
    operators report the streaming width and RocksDB's custom metrics."""
    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark.streaming.streams import (
        _ROCKSDB_CONFS,
        _event_stream,
        _query,
        _stream_partitions,
    )

    before = stream_hygiene(spark)
    width = _stream_partitions(spark)
    assert before[2] != str(width)  # the scope must be observable
    writer = (
        _event_stream(spark, SF_SMALL, max_files=2)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .outputMode("complete")
    )
    with _query(spark, writer, confs=_ROCKSDB_CONFS) as q:
        assert stream_hygiene(spark)[2:] == before[2:]
        q.processAllAvailable()
        ops = q.lastProgress["stateOperators"]
    assert ops[0]["numShufflePartitions"] == width
    assert any("rocksdb" in k.lower() for k in ops[0]["customMetrics"])
    assert stream_hygiene(spark) == before


def test_query_sets_checkpoint_file_manager_only_during_start(spark):
    """_query starts every query with the FileSystem-based checkpoint file
    manager (its renames fork no `readlink`) and the streaming width, and
    unsets both once start() returns. A fake writer records the confs that
    start() sees."""
    from week3_2_practice_big_data__spark.streaming.streams import (
        _query,
        _stream_partitions,
    )

    manager = "spark.sql.streaming.checkpointFileManagerClass"
    seen = {}

    class _FakeQuery:
        name = "w32bd_fake"

        def stop(self):
            seen["stopped"] = True

    class _FakeWriter:
        def queryName(self, name):
            return self

        def start(self):
            seen["manager"] = spark.conf.get(manager, None)
            seen["width"] = spark.conf.get("spark.sql.shuffle.partitions")
            return _FakeQuery()

    before = stream_hygiene(spark)
    assert before[4] is None
    with _query(spark, _FakeWriter()):
        assert spark.conf.get(manager, None) is None
    assert seen == {
        "manager": "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
        "width": str(_stream_partitions(spark)),
        "stopped": True,
    }
    assert stream_hygiene(spark) == before


def test_query_failure_leaves_no_stream_view_or_conf(spark):
    """A streaming builder made to fail leaves nothing behind: neither when
    start() raises (unknown sink format, with `confs` given) nor when
    processAllAvailable() raises (a UDF that throws inside a batch)."""
    import pytest

    import pyspark.sql.functions as F

    from week3_2_practice_big_data__spark.streaming.streams import (
        _event_stream,
        _query,
    )

    probe = "spark.w32bd.test.query.probe"
    before = stream_hygiene(spark)
    stream = _event_stream(spark, SF_SMALL)

    with pytest.raises(Exception):
        with _query(
            spark,
            stream.writeStream.format("w32bd_no_such_sink"),
            confs={probe: "set"},
        ):
            raise AssertionError("start() must raise before the body runs")
    assert spark.conf.get(probe, None) is None
    assert stream_hygiene(spark) == before

    boom = F.udf(lambda v: 1 // 0, "long")
    writer = (
        stream.select(boom("value").alias("x"))
        .writeStream.format("memory")
        .outputMode("append")
    )
    with pytest.raises(Exception):
        with _query(spark, writer) as q:
            q.processAllAvailable()
    assert stream_hygiene(spark) == before


def test_pid_run_dir_removed_when_its_process_exits(tmp_path):
    """common.pid_run_dir: a process's run directory goes when the process
    exits. Builders return lazy reads over their sinks, so nothing can
    remove it earlier; without the exit hook a driver sweep left one
    directory per sink key in .tmp until the next run at that scale
    factor reaped it."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import os, sys
sys.path.insert(0, {repo!r})
from week3_2_practice_big_data__spark import common
common.scratch_root = lambda: {str(tmp_path)!r}
d = common.pid_run_dir("/data/sf9", "x_run")
os.makedirs(os.path.join(d, "data"))
open(os.path.join(d, "data", "part-0.jsonl"), "w").close()
print(d)
"""
    done = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    run_dir = os.path.dirname(done.stdout.strip())  # the pid directory
    assert os.path.dirname(run_dir) == str(tmp_path), done.stdout
    assert not os.path.exists(run_dir)
    assert list(tmp_path.iterdir()) == []


def test_pid_run_dir_reaps_dead_siblings(tmp_path, monkeypatch):
    """common.pid_run_dir (r11): scratch dirs left by dead pids of the same
    (prefix, sf) tag are reaped; each call returns a fresh empty directory
    inside the caller's own pid directory; unrelated prefixes and non-pid
    suffixes are left alone."""
    import os

    from week3_2_practice_big_data__spark import common

    monkeypatch.setattr(common, "scratch_root", lambda: str(tmp_path))
    dead_pid = 2**22 + 1  # beyond pid_max defaults — never a live process
    (tmp_path / f"x_run_sf9_{dead_pid}").mkdir()
    (tmp_path / "x_run_sf9_notapid").mkdir()
    (tmp_path / f"other_run_sf9_{dead_pid}").mkdir()
    mine = common.pid_run_dir("/data/sf9", "x_run")
    assert os.path.dirname(mine) == str(tmp_path / f"x_run_sf9_{os.getpid()}")
    assert os.listdir(mine) == []
    again = common.pid_run_dir("/data/sf9", "x_run")
    assert again != mine and os.path.dirname(again) == os.path.dirname(mine)
    assert not (tmp_path / f"x_run_sf9_{dead_pid}").exists()  # reaped
    assert (tmp_path / "x_run_sf9_notapid").exists()  # suffix not a pid
    assert (tmp_path / f"other_run_sf9_{dead_pid}").exists()  # other prefix


@pytest.mark.parametrize(
    "key",
    (
        "stream_foreachbatch",
        "stream_sink_parquet",
        "stream_checkpoint_restart",
        "stream_pipeline_e2e",
    ),
)
def test_sink_frame_stays_readable_after_the_key_runs_again(spark, key):
    """A sink key's returned frame is a lazy read of its sink files.
    Each call writes to its own run directory (common.pid_run_dir), so
    a second call of the same key leaves the first frame's files in
    place: the first frame still reads, and equals the second."""
    first = REGISTRY[key].builder(spark, SF_SMALL)
    second = REGISTRY[key].builder(spark, SF_SMALL)
    assert first.count() > 0
    assert first.collect() == second.collect()


def test_parquet_sink_from_two_threads_matches_its_oracle(spark):
    """Two client threads run stream_sink_parquet at once in one session
    and scale factor: each writes its own sink and checkpoint, so each
    result equals the oracle and the session is left as it was found."""
    from concurrent.futures import ThreadPoolExecutor

    from .oracle import compare, duck_run

    entry = REGISTRY["stream_sink_parquet"]
    ref = duck_run(entry.oracle, SF_SMALL)
    before = stream_hygiene(spark)
    with ThreadPoolExecutor(2) as pool:
        frames = list(pool.map(lambda _: entry.builder(spark, SF_SMALL), range(2)))
    for i, df in enumerate(frames):
        compare(df, ref, key=f"stream_sink_parquet:thread{i}")
    assert stream_hygiene(spark) == before


def test_events_schema_is_the_loaded_schema(spark, tmp_path):
    """io.EVENTS_SCHEMA, which every chunked stream reads with, equals
    load_table(..., "events").schema, nullability included: on the test
    scale factors and on the benchmark's generated tables."""
    import os

    from perfbench.datagen import ensure_tables
    from pyspark.sql.types import StructType

    from week3_2_practice_big_data__spark.io import EVENTS_SCHEMA, load_table

    from .conftest import SF_ORACLE

    dirs = [SF_SMALL, SF_ORACLE, os.path.join(os.path.dirname(SF_SMALL), "sf0.1")]
    dirs = [d for d in dirs if os.path.exists(os.path.join(d, "events.parquet"))]
    dirs.append(ensure_tables(str(tmp_path), "0.01", 42))
    want = StructType.fromDDL(EVENTS_SCHEMA)
    for sf_dir in dirs:
        assert load_table(spark, sf_dir, "events").schema == want, sf_dir
