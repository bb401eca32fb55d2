"""Property-based tests (hypothesis) for the cross-engine determinism layer.

No SparkSession needed: properties are checked by evaluating the generated
SQL text in DuckDB and/or plain Python — fast, wide input coverage.
"""

from __future__ import annotations

import duckdb
from hypothesis import given, settings, strategies as st

from week3_2_practice_big_data__spark import synth


@given(st.integers(min_value=0, max_value=10**6), st.integers(min_value=0, max_value=999))
@settings(max_examples=50, deadline=None)
def test_lcg_uniform_in_unit_interval(key, seed):
    # key expressions must be BIGINT (engine series are BIGINT-cast)
    (u,) = duckdb.sql(
        f"SELECT {synth.lcg_u(f'CAST({key} AS BIGINT)', seed, 0)}"
    ).fetchone()
    assert 0.0 <= u < 1.0


@given(
    st.integers(min_value=0, max_value=10**6),
    st.floats(min_value=-100, max_value=100, allow_nan=False),
    st.floats(min_value=0.001, max_value=100, allow_nan=False),
)
@settings(max_examples=50, deadline=None)
def test_uniform_respects_bounds(key, lo, width):
    hi = lo + width
    (u,) = duckdb.sql(
        f"SELECT {synth.uniform(f'CAST({key} AS BIGINT)', 42, 0, lo, hi)}"
    ).fetchone()
    assert lo <= u <= hi


@given(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_q6_idempotent_and_close(x):
    (q1,) = duckdb.sql(f"SELECT {synth.q6(synth.flit(x))}").fetchone()
    (q2,) = duckdb.sql(f"SELECT {synth.q6(synth.flit(q1))}").fetchone()
    assert q2 == q1  # quantizer is idempotent
    assert abs(q1 - x) <= 5.0000001e-7 + abs(x) * 1e-12


@given(st.floats(min_value=0.05, max_value=8.0))
@settings(max_examples=50, deadline=None)
def test_gaussian_kernel_normalized(sigma):
    taps = synth.gaussian_kernel(sigma)
    assert abs(sum(w for _, w in taps) - 1.0) < 1e-12
    offs = [o for o, _ in taps]
    assert offs == sorted(offs) and offs[0] == -offs[-1]


@given(st.integers(min_value=1, max_value=60))
@settings(max_examples=30, deadline=None)
def test_blobs_sql_bounds_any_n(n):
    rows = duckdb.sql(synth.blobs_sql(7, n, "duckdb")).fetchall()
    assert len(rows) == n
    for r in rows:
        d = dict(zip(("blob_id", "r", "wobble", "cx", "cy", "depth", "col_r", "col_g", "col_b"), r))
        assert 0.1 <= d["r"] <= 0.26 and 0.12 <= d["cx"] <= 0.88
        assert 0.0 <= min(d["col_r"], d["col_g"], d["col_b"])
        assert max(d["col_r"], d["col_g"], d["col_b"]) <= 1.0


# ---------------------------------------------------------------------------
# Property tests for the cross-engine determinism foundation: the shared SQL
# texts in synth.py must evaluate EXACTLY like a pure-Python replay of the
# same formula (DuckDB side; the Spark side is pinned by the oracle
# parities). Hypothesis drives the key/seed/value space.
# ---------------------------------------------------------------------------

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from week3_2_practice_big_data__spark import synth


def _py_lcg_u(key: int, seed: int, draw: int = 0) -> float:
    x = (key * 1000003 + seed * 7919 + synth.LCG_C) % synth.M31
    for _ in range(draw + 1):
        x = (synth.LCG_A * x + synth.LCG_C) % synth.M31
    return x / float(synth.M31)


@settings(max_examples=60, deadline=None)
@given(
    key=st.integers(min_value=0, max_value=10_000_000),
    seed=st.integers(min_value=0, max_value=99_999),
    draw=st.integers(min_value=0, max_value=3),
)
def test_lcg_u_duckdb_matches_python_exactly(key, seed, draw):
    # CAST like real call sites: keys are BIGINT columns there, but a bare
    # DuckDB literal parses as INT32 and overflows the multiply.
    expr = synth.lcg_u(f"CAST({key} AS BIGINT)", seed, draw)
    got = duckdb.sql(f"SELECT {expr} AS v").fetchone()[0]
    want = _py_lcg_u(key, seed, draw)
    assert got == want
    assert 0.0 <= got < 1.0


@settings(max_examples=60, deadline=None)
@given(x=st.floats(min_value=-1e6, max_value=1e6, allow_nan=False))
def test_q6_duckdb_matches_python_and_is_idempotent(x):
    import math

    expr = synth.q6(synth.flit(x))
    got = duckdb.sql(f"SELECT {expr} AS v").fetchone()[0]
    want = math.floor(x * 1e6 + 0.5) / 1e6
    assert got == want
    # idempotence: quantizing a quantized value is a no-op
    got2 = duckdb.sql(f"SELECT {synth.q6(synth.flit(got))} AS v").fetchone()[0]
    assert got2 == got


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=99_999),
    nb=st.integers(min_value=1, max_value=30),
)
def test_blob_params_bounds_any_seed(seed, nb):
    """The reference's parameter ranges (app.py:138-140) hold for EVERY
    seed/n_blobs a user could pick, not just the tested fixtures."""
    exprs = synth.blob_param_exprs(seed, nb, id_expr="i")
    rows = duckdb.sql(
        f"SELECT {exprs['r']} AS r, {exprs['wobble']} AS w, "
        f"{exprs['cx']} AS cx, {exprs['cy']} AS cy "
        f"FROM (SELECT unnest(generate_series(0, {nb - 1})) AS i)"
    ).fetchall()
    for r, w, cx, cy in rows:
        assert 0.1 <= r < 0.26
        assert 0.08 <= w < 0.22
        assert 0.12 <= cx < 0.88 and 0.12 <= cy < 0.88


@given(
    plane=st.integers(min_value=0, max_value=63),
    dim=st.integers(min_value=0, max_value=63),
)
@settings(max_examples=80, deadline=None)
def test_plane_components_match_engine_lcg(plane, dim):
    """The driver-computed hyperplane literals must equal what the engine's
    LCG text evaluates to (the literal-emission shortcut is only sound if
    the Python twin is bit-exact)."""
    import duckdb

    from week3_2_practice_big_data__spark import synth
    from week3_2_practice_big_data__spark.functions.similarity import (
        _plane_components,
    )

    expr = synth.lcg_u(f"CAST({plane * 64 + dim} AS BIGINT)", seed=1234, draw=0)
    engine = duckdb.sql(f"SELECT ({expr}) - 0.5").fetchone()[0]
    assert _plane_components()[plane][dim] == engine


@given(
    cell=st.integers(min_value=0, max_value=7),
    dim=st.integers(min_value=0, max_value=63),
)
@settings(max_examples=60, deadline=None)
def test_centroid_components_match_engine_lcg(cell, dim):
    """Same literal-emission soundness for the IVF centroid table."""
    import duckdb

    from week3_2_practice_big_data__spark import synth
    from week3_2_practice_big_data__spark.functions.similarity import (
        _IVF_SEED,
        _centroid_components,
    )

    expr = synth.uniform(f"CAST({cell * 64 + dim} AS BIGINT)", _IVF_SEED, 0, -1.0, 1.0)
    engine = duckdb.sql(f"SELECT {expr}").fetchone()[0]
    assert _centroid_components()[cell][dim] == engine


@given(u=st.floats(min_value=0.0, max_value=1.0, exclude_max=True))
@settings(max_examples=120, deadline=None)
def test_poisson_inverse_cdf_ladder_is_correct(u):
    """The bootstrap's CASE-ladder inverse CDF must return the true
    Poisson(1) quantile for every uniform draw."""
    import math

    import duckdb

    from week3_2_practice_big_data__spark.operators.statml import _poisson_inv

    k_engine = duckdb.sql(
        f"SELECT {_poisson_inv(str(float(u)))}"
    ).fetchone()[0]
    c = 0.0
    k_true = 9
    for k in range(9):
        c += math.exp(-1) / math.factorial(k)
        if u < c:
            k_true = k
            break
    assert k_engine == k_true


@given(
    st.integers(min_value=0, max_value=(1 << 16) - 1),
    st.integers(min_value=0, max_value=(1 << 16) - 1),
)
@settings(max_examples=60, deadline=None)
def test_zorder_expr_matches_python_interleave(a, b):
    """The portable-arithmetic Morton code equals the bitwise reference:
    z = interleave(a, b) with a on even bits, b on odd bits — and is
    invertible (deinterleaving recovers both inputs)."""
    from week3_2_practice_big_data__spark.operators.partitioned import _zorder_expr

    (z,) = duckdb.sql(f"SELECT {_zorder_expr(str(a), str(b))}").fetchone()
    ref = 0
    for j in range(16):
        ref |= ((a >> j) & 1) << (2 * j)
        ref |= ((b >> j) & 1) << (2 * j + 1)
    assert z == ref


def test_zorder_buckets_are_local(spark):
    """Locality property that makes the layout worth writing: every
    z-range bucket's per-dimension span must be far below the global
    span (16-bit dims, 1024 buckets → each bucket covers a 2^11-aligned
    rectangle: span ≤ 2^11 per dimension)."""
    from week3_2_practice_big_data__spark import REGISTRY

    from .conftest import SF_ORACLE

    rows = REGISTRY["agg_zorder_clustering"].builder(spark, SF_ORACLE).collect()
    assert rows, "no buckets"
    for r in rows:
        assert r["span_a"] <= (1 << 11)
        assert r["span_b"] <= (1 << 11)


def test_ntile_closed_form_matches_spec():
    """win_ntile_blocked's closed form — first n%4 tiles hold n DIV 4 + 1
    rows, the rest n DIV 4 — must equal NTILE(4) semantics for every
    relation size, including the n < 4 degenerate tail."""
    for n in range(0, 401):
        k, m = n // 4, n % 4
        d1 = k + 1
        # reference: NTILE assigns tile i (1-based) size k+1 for i<=m else k
        sizes = [k + 1] * m + [k] * (4 - m)
        expect = [i + 1 for i, s in enumerate(sizes) for _ in range(s)]
        got = [
            (r - 1) // d1 + 1
            if r <= m * d1
            else m + (r - m * d1 - 1) // (d1 - 1) + 1
            for r in range(1, n + 1)
        ]
        assert got == expect, n


def test_islands_blocked_chain_merge_multiblock():
    """The %13 mask caps runs at 12 ids, so with the production block
    width runs never span MORE than one boundary — the chain merge's
    generality (runs through FULLY-present middle blocks) is otherwise
    unreachable. Shrink the block width to 5 in pure DuckDB and compare
    the blocked SQL against the global-window islands SQL on corpora
    with long multi-block runs, plus randomized present-sets."""
    import random

    import duckdb

    from week3_2_practice_big_data__spark.operators import advanced as adv

    def blocked_sql(B):
        return adv._islands_blocked_sql(adv._islands_edges_sql(block=B)).format(
            events="events"
        )

    global_sql = adv._islands_sql("duckdb").format(events="events")

    def run(ids, B):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE events AS SELECT unnest(?::BIGINT[]) AS event_id",
            [list(ids)],
        )
        got = con.execute(blocked_sql(B)).fetchall()
        want = con.execute(global_sql).fetchall()
        assert got == want, (B, sorted(set(ids))[:20])

    # a 12-id run spanning three width-5 blocks (middle block 15..19
    # fully present): ids 14..25, none divisible by 13
    run(range(14, 26), 5)
    # two adjacent runs separated by the masked id 26 (= 2*13)
    run(range(14, 40), 5)
    # randomized: ids 0..199, B in {5, 7, 16}
    rng = random.Random(7)
    for B in (5, 7, 16):
        for _ in range(10):
            ids = [i for i in range(200) if rng.random() < 0.7]
            run(ids, B)


def test_blocked_tercile_matches_real_ntile_random(spark):
    """r6: the blocked-ntile(3) decomposition used by ns_text_perplexity /
    ns_sample_importance (coarse floor-bucket + per-bucket row_number +
    cumulative offsets + closed-form tile sizes) must equal real
    NTILE(3) OVER (ORDER BY s, id) on ARBITRARY score multisets — random
    values, exact ties, negatives, bucket-boundary values — not just the
    fixed corpus the oracle checks."""
    import random

    rng = random.Random(42)
    cases = []
    for n in (1, 2, 3, 7, 100, 500):
        vals = [round(rng.uniform(-5.0, 5.0), 6) for _ in range(n)]
        # inject exact ties and boundary-exact values
        if n >= 7:
            vals[1] = vals[0]
            vals[2] = vals[0]
            vals[3] = 0.3  # exactly on a 0.1-wide bucket edge
            vals[4] = 0.3
            vals[5] = -0.3
        cases.append(list(enumerate(vals)))
    for rows in cases:
        df = spark.createDataFrame(rows, "id long, s double")
        df.createOrReplaceTempView("tercile_in")
        blocked = spark.sql("""
WITH pb AS (
  SELECT id, s, CAST(floor(s * 10e0) AS BIGINT) AS pb FROM tercile_in
),
bc AS (SELECT pb, count(*) AS c FROM pb GROUP BY pb),
off AS (
  SELECT pb, c,
    sum(c) OVER (ORDER BY pb ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
      AS off0,
    sum(c) OVER () AS n
  FROM bc
),
rk AS (
  SELECT p.id,
    o.off0 + row_number() OVER (
      PARTITION BY p.pb ORDER BY p.s, p.id
    ) AS r,
    o.n
  FROM pb p JOIN off o ON p.pb = o.pb
)
SELECT id,
  CASE WHEN r <= m * d1 THEN (r - 1) DIV d1 + 1
       ELSE m + (r - m * d1 - 1) DIV (d1 - 1) + 1 END AS nt
FROM (SELECT id, r, n % 3 AS m, n DIV 3 + 1 AS d1 FROM rk) t
""").collect()
        real = spark.sql(
            "SELECT id, ntile(3) OVER (ORDER BY s, id) AS nt FROM tercile_in"
        ).collect()
        assert {r["id"]: r["nt"] for r in blocked} == {
            r["id"]: r["nt"] for r in real
        }, len(rows)


# ---------------------------------------------------------------------------
# URL canonicalization properties (ns_dedup_url): random messy spellings of
# one resource must collapse to ONE canonical form, the canonical form must
# be a fixed point, non-default ports must survive, and query-param order
# must not matter. Evaluated on the DuckDB dialect text (shared semantics).
# ---------------------------------------------------------------------------

_HOST_LABEL = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8
)
_PARAM = st.tuples(
    st.text(alphabet="abcdefghij", min_size=1, max_size=5),
    st.text(alphabet="abcdefghij0123456789", min_size=1, max_size=5),
)


def _canon_of(urls: list[str]) -> list[str]:
    from week3_2_practice_big_data__spark.functions.llmprep import (
        _canon_url_sql,
    )

    rows = ", ".join(
        f"({i}, '{u}')" for i, u in enumerate(urls)
    )
    q = _canon_url_sql("duckdb", rel="fetches")
    sql = f"WITH fetches(doc_id, url) AS (VALUES {rows}) {q} ORDER BY doc_id"
    return [r[2] for r in duckdb.sql(sql).fetchall()]


@given(
    _HOST_LABEL,
    st.lists(st.text(alphabet="abcdefg123", min_size=1, max_size=6),
             min_size=0, max_size=3),
    st.lists(_PARAM, min_size=0, max_size=4, unique_by=lambda p: p[0]),
    st.randoms(),
)
@settings(max_examples=60, deadline=None)
def test_url_canon_collapses_random_spellings(label, segs, params, rnd):
    host = f"docs.{label}.com"
    path = "".join(f"/{s}" for s in segs)
    qs = [f"{k}={v}" for k, v in params]
    variants = []
    for _ in range(4):
        h = "".join(c.upper() if rnd.random() < 0.5 else c for c in host)
        scheme = rnd.choice(["http", "https"])
        port = rnd.choice(["", ":80", ":443"])
        trail = rnd.choice(["", "/"]) if path else ""
        q = qs[:]
        rnd.shuffle(q)
        if rnd.random() < 0.5:
            q.append("utm_source=feed")
        frag = rnd.choice(["", "#top"])
        qpart = ("?" + "&".join(q)) if q else ""
        variants.append(f"{scheme}://{h}{port}{path}{trail}{qpart}{frag}")
    canons = _canon_of(variants)
    assert len(set(canons)) == 1, (variants, canons)
    expected_q = "&".join(sorted(qs))
    expected = f"https://{host}{path}" + (f"?{expected_q}" if qs else "")
    assert canons[0] == expected
    # the canonical form is a fixed point
    assert _canon_of([canons[0]]) == [canons[0]]


@given(_HOST_LABEL, st.integers(min_value=1, max_value=65535))
@settings(max_examples=30, deadline=None)
def test_url_canon_preserves_nondefault_port(label, port):
    url = f"https://docs.{label}.com:{port}/a"
    (canon,) = _canon_of([url])
    if port in (80, 443):
        assert canon == f"https://docs.{label}.com/a"
    else:
        assert canon == f"https://docs.{label}.com:{port}/a"


# ---------------------------------------------------------------------------
# Chunking properties (ns_chunk_overlap): for any token count n ≥ 1 the
# emitted windows tile [0, n) — every token covered, consecutive starts
# exactly STRIDE apart, the last window reaches the end, emission stops at
# the first end-reaching window, and no window exceeds CHUNK tokens.
# ---------------------------------------------------------------------------


@given(st.integers(min_value=1, max_value=300))
@settings(max_examples=100, deadline=None)
def test_chunk_tiling_covers_every_token(n):
    from week3_2_practice_big_data__spark.functions.llmprep import (
        _CHUNK,
        _STRIDE,
        _chunk_overlap_sql,
    )

    text = " ".join(f"t{i}" for i in range(n))
    q = _chunk_overlap_sql("duckdb").format(documents="documents")
    sql = q.replace(
        "WITH tok AS",
        f"WITH documents(doc_id, text) AS (VALUES (1, '{text}')), tok AS",
        1,
    )
    rows = duckdb.sql(sql).fetchall()
    starts = [r[1] for r in rows]
    lens = [r[2] for r in rows]
    assert starts == list(range(0, starts[-1] + 1, _STRIDE))
    assert all(ln <= _CHUNK for ln in lens)
    assert starts[-1] + lens[-1] == n  # last window reaches the end
    covered = set()
    for s_, ln in zip(starts, lens):
        covered.update(range(s_, s_ + ln))
    assert covered == set(range(n))
    # stop-at-end: at most one window contains the final token
    assert sum(1 for s_, ln in zip(starts, lens) if s_ + ln == n) == 1


def test_reverse_frame_equals_suffix_frame_random(spark):
    """r7: every suffix window aggregate in the registry is a running
    aggregate over the REVERSE sort (incremental O(n)) instead of a
    CURRENT ROW..UNBOUNDED FOLLOWING frame (re-aggregated per row by
    Spark — O(n²), the 308× skew-ladder cliff). Pin the value
    equivalence of the two forms on random sequences with NULLs and
    heavily tied sort keys, in BOTH engines:
      - min over the suffix including self (CEP next_nonerr / as-of
        next-click shape) == reverse-sorted running min;
      - first non-NULL strictly after self (gap-interpolation forward
        neighbor) == reverse-sorted last_value IGNORE NULLS over
        UNBOUNDED PRECEDING..1 PRECEDING."""
    import random

    import duckdb

    from week3_2_practice_big_data__spark.operators.statml import _ignore_nulls

    rng = random.Random(7)
    rows = []
    for i in range(400):
        g = i % 5
        ts = rng.randrange(0, 40)  # dense ties; (ts, id) is the tiebreak
        v = None if rng.random() < 0.3 else rng.randrange(0, 1000)
        rows.append((g, ts, i, v))

    def sql(dialect, reverse):
        if reverse:
            m = ("min(v) OVER (PARTITION BY g ORDER BY ts DESC, id DESC "
                 "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
            fv = _ignore_nulls(
                dialect, "last_value", "v",
                "PARTITION BY g ORDER BY ts DESC, id DESC "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING")
        else:
            m = ("min(v) OVER (PARTITION BY g ORDER BY ts, id "
                 "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
            fv = _ignore_nulls(
                dialect, "first_value", "v",
                "PARTITION BY g ORDER BY ts, id "
                "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING")
        return (f"SELECT g, id, {m} AS sfx_min, {fv} AS next_v "
                "FROM frame_in ORDER BY g, id")

    df = spark.createDataFrame(rows, "g long, ts long, id long, v long")
    df.createOrReplaceTempView("frame_in")
    sp_fwd = [tuple(r) for r in spark.sql(sql("spark", False)).collect()]
    sp_rev = [tuple(r) for r in spark.sql(sql("spark", True)).collect()]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE frame_in AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({g}, {ts}, {i}, {'NULL' if v is None else v})"
            for g, ts, i, v in rows
        )
        + ") t(g, ts, id, v)"
    )
    dk_fwd = [tuple(r) for r in con.execute(sql("duckdb", False)).fetchall()]
    dk_rev = [tuple(r) for r in con.execute(sql("duckdb", True)).fetchall()]

    assert sp_fwd == sp_rev, "Spark: reverse-frame form diverged"
    assert dk_fwd == dk_rev, "DuckDB: reverse-frame form diverged"
    assert sp_rev == dk_rev, "cross-engine divergence on the reverse form"


def test_blocked_global_shuffle_matches_naive_random(spark):
    """r7: ns_global_shuffle's blocked decomposition (256 hex-prefix
    blocks + partitioned row_number + summary offsets) must equal the
    naive global row_number() OVER (ORDER BY md5key, doc_id) on
    ARBITRARY doc_id sets — sparse, negative, adjacent — not just the
    contiguous fixture ids. Fixed-length-hex prefix ordering and the
    DIV/% shard arithmetic are the properties under test."""
    import random

    from week3_2_practice_big_data__spark.functions.llmprep import (
        _SHUF_SHARD,
        _global_shuffle_spark_sql,
    )

    rng = random.Random(7)
    cases = [
        [0],
        [-3, -2, -1, 0, 1],
        rng.sample(range(-(10**9), 10**9), 300),
        list(range(1000, 1100)),
    ]
    blocked_sql = _global_shuffle_spark_sql()
    for ids in cases:
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        blocked = {
            r["doc_id"]: (r["pos"], r["shard"], r["pos_in_shard"])
            for r in spark.sql(blocked_sql, documents=df).collect()
        }
        naive = {
            r["doc_id"]: (r["pos"], r["shard"], r["pos_in_shard"])
            for r in spark.sql(f"""
SELECT doc_id, pos,
  CAST((pos - 1) DIV {_SHUF_SHARD} AS BIGINT) AS shard,
  CAST((pos - 1) % {_SHUF_SHARD} + 1 AS BIGINT) AS pos_in_shard
FROM (
  SELECT doc_id, row_number() OVER (
    ORDER BY md5(concat('shuf1:', CAST(doc_id AS STRING))), doc_id) AS pos
  FROM {{documents}}) t
""", documents=df).collect()
        }
        assert blocked == naive, len(ids)


# ---------------------------------------------------------------------------
# r7 fifth-session keys: math invariants beyond the hash oracle
# ---------------------------------------------------------------------------

_SF0001 = "/root/testdata/sf0.001"


def _duck_with_events(rows):
    """DuckDB connection with an `events` view built from (user_id, us,
    event_type, value) tuples — micros become TIMESTAMPs the way the
    parquet path delivers them."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev_raw (user_id BIGINT, us BIGINT, "
        "event_type VARCHAR, value DOUBLE)"
    )
    con.executemany("INSERT INTO ev_raw VALUES (?, ?, ?, ?)", rows)
    con.execute(
        "CREATE VIEW events AS SELECT user_id, make_timestamp(us) AS ts, "
        "event_type, value, row_number() OVER () AS event_id FROM ev_raw"
    )
    return con


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),            # user
            st.integers(min_value=0, max_value=40 * 86_400),  # seconds
        ),
        min_size=2,
        max_size=60,
    )
)
@settings(max_examples=30, deadline=None)
def test_km_survival_matches_python_product(pairs):
    from week3_2_practice_big_data__spark.operators.analytics import (
        _KM_CHURN_GAP_US,
        _survival_sql,
    )

    rows = [(u, s * 1_000_000, "view", 1.0) for u, s in pairs]
    con = _duck_with_events(rows)
    got = con.execute(_survival_sql("duckdb").format(events="events")).fetchall()
    # Pure-Python Kaplan-Meier from the same rows.
    by_user: dict = {}
    for u, us, _, _ in rows:
        lo, hi = by_user.get(u, (us, us))
        by_user[u] = (min(lo, us), max(hi, us))
    gmax = max(hi for _, hi in by_user.values())
    lifetimes = {}
    for u, (lo, hi) in by_user.items():
        lt = (hi - lo) // 86_400_000_000
        churn = 1 if hi < gmax - _KM_CHURN_GAP_US else 0
        n, d = lifetimes.get(lt, (0, 0))
        lifetimes[lt] = (n + 1, d + churn)
    days = sorted(lifetimes)
    at_risk = {}
    run = 0
    for t in reversed(days):
        run += lifetimes[t][0]
        at_risk[t] = run
    surv, extinct, expect = 1.0, False, {}
    for t in days:
        d, r = lifetimes[t][1], at_risk[t]
        if d >= r and d > 0:
            extinct = True
        if not extinct and d > 0:
            surv *= 1.0 - d / r
        expect[t] = (d, r, 0.0 if extinct else surv)
    assert len(got) == len(days)
    for lt, d, r, _hz, s in got:
        ed, er, es = expect[lt]
        assert (d, r) == (ed, er)
        # ln terms are micro-quantized: tolerance n_days·1e-6 in ln space
        assert abs(s - es) <= 2e-4


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),   # user
            st.integers(min_value=0, max_value=500),  # seconds
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=2,
        max_size=50,
    )
)
@settings(max_examples=30, deadline=None)
def test_markov_rows_are_distributions(triples):
    from week3_2_practice_big_data__spark.operators.analytics import (
        _markov_sql,
    )

    rows = [(u, s * 1_000_000, t, 1.0) for u, s, t in triples]
    con = _duck_with_events(rows)
    got = con.execute(_markov_sql("duckdb").format(events="events")).fetchall()
    from collections import defaultdict

    by_from = defaultdict(list)
    for t_from, t_to, n, n_from, p, top in got:
        by_from[t_from].append((t_to, n, n_from, p, top))
    for t_from, ents in by_from.items():
        total = sum(n for _, n, _, _, _ in ents)
        assert all(nf == total for _, _, nf, _, _ in ents)
        assert abs(sum(p for _, _, _, p, _ in ents) - 1.0) <= len(ents) * 1e-6
        tops = [(n, t_to) for t_to, n, _, _, top in ents if top]
        assert len(tops) == 1
        best = max((n, t_to) for t_to, n, _, _, _ in ents)
        # top flag = max count, ties broken by t_to ascending
        mx = max(n for _, n, _, _, _ in ents)
        first_at_max = min(t_to for t_to, n, _, _, _ in ents if n == mx)
        assert tops[0][1] == first_at_max


def test_lift_gains_curve_invariants():
    from week3_2_practice_big_data__spark.operators.statml import (
        _lift_gains_sql,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{_SF0001}/events.parquet')"
    )
    rows = con.execute(_lift_gains_sql("duckdb").format(events="events")).fetchall()
    assert rows, "sf0.001 events must produce a gains table"
    reach = [r[6] for r in rows]   # cum_reach, walked top bucket down
    capture = [r[5] for r in rows]
    assert all(b >= a - 1e-9 for a, b in zip(reach, reach[1:]))
    assert all(b >= a - 1e-9 for a, b in zip(capture, capture[1:]))
    assert abs(reach[-1] - 1.0) <= 1e-6
    auc = rows[0][7]
    assert 0.0 <= auc <= 1.0
    total = sum(r[1] for r in rows)
    npos = sum(r[2] for r in rows)
    assert 0 < npos < total


def test_als_beats_mean_predictor_baseline():
    from week3_2_practice_big_data__spark.registry import REGISTRY

    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{_SF0001}/{t}.parquet')"
        )
    (als_rmse,) = [r[4] for r in con.execute(
        REGISTRY["iter_als_rank2"].oracle).fetchall()]
    (base,) = con.execute(
        "SELECT sqrt(avg((l_quantity - m) * (l_quantity - m))) FROM ("
        "SELECT l_quantity, avg(l_quantity) OVER () AS m FROM lineitem) t"
    ).fetchone()
    assert als_rmse < base, (als_rmse, base)


@settings(max_examples=30, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab é日🦄'\\\" ")),
            max_size=24,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_udtf_span_oracle_matches_python_replay(texts):
    """udtf_python_native (r9): the RELATIONAL span oracle (explode +
    code-point prefix sums) must equal a pure-Python replay of
    text.split(' ') span enumeration for arbitrary unicode text — the
    same replay the @udtf kernel executes, so this pins the oracle's
    arithmetic independently of the cross-engine compare."""
    import duckdb

    from week3_2_practice_big_data__spark.functions.text import (
        _UDTF_SPANS_ORACLE,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR)"
    )
    for i, t in enumerate(texts):
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    got = con.execute(_UDTF_SPANS_ORACLE).fetchall()
    want = []
    for i, t in enumerate(texts):
        off = 0
        for pos, tok in enumerate(t.split(" ")):
            want.append((i, pos, tok, off, off + len(tok)))
            off += len(tok) + 1
    assert got == want
