"""Unit tests for the event-sequence analytics (funnel, SCD2) and the
Misra-Gries heavy-hitters operator — exercising the paths the uniform
driver fixture can't: counter eviction under skew, strict-after funnel
semantics, single-run/alternating-run interval collapse."""

import datetime

import pytest

from pyspark.sql import functions as F

TS = datetime.datetime


def _ts(m):
    return TS(2024, 1, 1, 0, m)


# ---------------------------------------------------------------------------
# heavy hitters
# ---------------------------------------------------------------------------


def test_heavy_hitters_skewed_eviction(spark):
    """Vocabulary far larger than the MG capacity: 400 singleton tokens
    + 2 heavy ones, k=10 → capacity 20 ≪ 402 distinct, so the counter
    eviction path runs; the exact recount must still return exactly the
    two true heavy hitters with exact counts."""
    from duckdb_graphar_spark.operators.sketch import heavy_hitters

    rare = [(f"rare{i:03d}",) for i in range(400)]
    heavy = [("alpha " * 30).strip()] * 8 + [("beta " * 25).strip()] * 8
    df = spark.createDataFrame(rare + [(h,) for h in heavy], "text string").repartition(7)
    # totals: 400 rare + 240 alpha + 200 beta = 840; n/k = 84
    out = {r["token"]: r["freq"] for r in heavy_hitters(df, k=10).collect()}
    assert out == {"alpha": 240, "beta": 200}


def test_heavy_hitters_threshold_is_strict(spark):
    """freq*k > n is strict: a token at exactly n/k is excluded."""
    from duckdb_graphar_spark.operators.sketch import heavy_hitters

    # 4 tokens total, k=2 → threshold freq*2 > 4 ⇒ freq ≥ 3
    df = spark.createDataFrame([("a a b b",)], "text string")
    assert heavy_hitters(df, k=2).count() == 0
    df2 = spark.createDataFrame([("a a a b",)], "text string")
    out = heavy_hitters(df2, k=2).collect()
    assert [(r["token"], r["freq"]) for r in out] == [("a", 3)]


def test_heavy_hitters_rejects_bad_k(spark):
    from duckdb_graphar_spark.operators.sketch import heavy_hitters

    df = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError):
        heavy_hitters(df, k=0)


# ---------------------------------------------------------------------------
# funnel
# ---------------------------------------------------------------------------


def _funnel(spark, rows):
    from duckdb_graphar_spark.operators.events import funnel

    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string"
    )
    out = funnel(df, ["view", "click", "purchase"])
    return {
        r["user_id"]: (r["stages_completed"], r["completed_at"])
        for r in out.collect()
    }


def test_funnel_full_and_partial(spark):
    rows = [
        # user 1: full funnel in order
        (1, _ts(0), "view"), (1, _ts(1), "click"), (1, _ts(2), "purchase"),
        # user 2: purchase BEFORE view → only reaches stage 1
        (2, _ts(0), "purchase"), (2, _ts(1), "view"),
        # user 3: no matching first stage
        (3, _ts(0), "error"),
    ]
    got = _funnel(spark, rows)
    assert got[1] == (3, _ts(2))
    assert got[2] == (1, _ts(1))
    assert got[3] == (0, None)


def test_funnel_same_timestamp_does_not_advance(spark):
    """Stage i+1 requires STRICTLY later ts — a click at the view's
    exact timestamp is pinned to not count."""
    rows = [
        (1, _ts(0), "view"), (1, _ts(0), "click"), (1, _ts(5), "click"),
        (2, _ts(0), "view"), (2, _ts(0), "click"),
    ]
    got = _funnel(spark, rows)
    assert got[1] == (2, _ts(5))
    assert got[2] == (1, _ts(0))


def test_funnel_takes_first_qualifying_event(spark):
    """The fold must bind each stage to its EARLIEST qualifying event,
    not a later one (two clicks: the first one after the view wins)."""
    rows = [
        (1, _ts(0), "view"), (1, _ts(1), "click"), (1, _ts(9), "click"),
        (1, _ts(4), "purchase"),
    ]
    got = _funnel(spark, rows)
    # click@1 completes stage 2, so purchase@4 qualifies
    assert got[1] == (3, _ts(4))


def test_funnel_max_gap_blocks_late_stage(spark):
    """With a 2-minute conversion window: user 1's click at +3min is
    outside the view@0's window (stage stalls at 1, even though a
    LATER anchor would have worked — greedy-earliest pinned); user 2
    converts fully inside the windows; the gap is measured from the
    PREVIOUS stage's completion, not the funnel start (user 3: view@0,
    click@2, purchase@4 — each hop is 2min, total 4min, completes)."""
    from duckdb_graphar_spark.operators.events import funnel

    rows = [
        (1, _ts(0), "view"), (1, _ts(3), "click"), (1, _ts(4), "purchase"),
        (2, _ts(0), "view"), (2, _ts(1), "click"), (2, _ts(2), "purchase"),
        (3, _ts(0), "view"), (3, _ts(2), "click"), (3, _ts(4), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string"
    )
    out = funnel(
        df, ["view", "click", "purchase"], max_gap_us=2 * 60 * 1_000_000
    )
    got = {
        r["user_id"]: (r["stages_completed"], r["completed_at"])
        for r in out.collect()
    }
    assert got[1] == (1, _ts(0))
    assert got[2] == (3, _ts(2))
    assert got[3] == (3, _ts(4))


def test_funnel_rejects_bad_gap(spark):
    import pytest as _pt

    from duckdb_graphar_spark.operators.events import funnel

    df = spark.createDataFrame(
        [(1, _ts(0), "view")], "user_id long, ts timestamp_ntz, event_type string"
    )
    with _pt.raises(ValueError, match="max_gap_us"):
        funnel(df, ["view"], max_gap_us=0)


# ---------------------------------------------------------------------------
# SCD2 intervals
# ---------------------------------------------------------------------------


def _scd2(spark, rows):
    from duckdb_graphar_spark.operators.events import scd2_intervals

    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string, event_id long"
    )
    out = scd2_intervals(df).orderBy("user_id", "valid_from")
    return [
        (r["user_id"], r["state"], r["valid_from"], r["valid_to"], r["n_events"])
        for r in out.collect()
    ]


def test_scd2_runs_collapse_and_half_open(spark):
    rows = [
        (1, _ts(0), "A", 1), (1, _ts(1), "A", 2), (1, _ts(2), "B", 3),
        (1, _ts(3), "A", 4),
    ]
    assert _scd2(spark, rows) == [
        (1, "A", _ts(0), _ts(2), 2),
        (1, "B", _ts(2), _ts(3), 1),
        (1, "A", _ts(3), None, 1),
    ]


def test_scd2_tie_breaks_on_event_id(spark):
    """Two events at the same ts: run order follows the unique event id,
    so the intervals are deterministic."""
    rows = [(1, _ts(0), "B", 2), (1, _ts(0), "A", 1), (1, _ts(1), "B", 3)]
    assert _scd2(spark, rows) == [
        (1, "A", _ts(0), _ts(0), 1),
        (1, "B", _ts(0), None, 2),
    ]


def test_scd2_single_state_single_row(spark):
    rows = [(7, _ts(0), "X", 1), (7, _ts(5), "X", 2)]
    assert _scd2(spark, rows) == [(7, "X", _ts(0), None, 2)]


def test_session_paths_hand_computed(spark):
    """User 1: two sessions (gap > 30 min) with paths view>click and
    view; user 2: one session view>click."""
    import datetime as dt

    from duckdb_graphar_spark.operators.events import session_paths

    base = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    rows = [
        (1, ts(0), 1, "view"),
        (1, ts(1), 2, "click"),
        (1, ts(60), 3, "view"),       # new session (59 min gap)
        (2, ts(0), 4, "view"),
        (2, ts(2), 5, "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    got = [(r.path, r.n_sessions) for r in session_paths(df).collect()]
    assert got == [("view>click", 2), ("view", 1)]


def test_session_paths_ties_break_on_event_id(spark):
    import datetime as dt

    from duckdb_graphar_spark.operators.events import session_paths

    t = dt.datetime(2024, 1, 1)
    rows = [(1, t, 9, "b"), (1, t, 3, "a")]  # same ts: id 3 first
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    got = [(r.path, r.n_sessions) for r in session_paths(df).collect()]
    assert got == [("a>b", 1)]


def test_funnel_hot_user_cap_completes_and_caps(spark):
    """A synthetic hot user with 200k events completes under the cap,
    and the capped semantics are pinned: with max_events_per_user=10,
    an advancing event that only occurs after position 10 is invisible."""
    import datetime as dt

    from duckdb_graphar_spark.operators.events import funnel

    base = dt.datetime(2024, 1, 1)
    # hot user: 200k 'view' events, then the 'buy' at the very end
    hot = spark.range(200_000).selectExpr(
        "'bot' AS user_id",
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id) AS ts",
        "'view' AS event_type",
    )
    tail = spark.createDataFrame(
        [("bot", base + dt.timedelta(days=30), "buy")],
        "user_id string, ts timestamp, event_type string",
    )
    df = hot.unionByName(tail)
    # uncapped-by-default: the full funnel sees the buy
    full = funnel(df, ["view", "buy"]).collect()[0]
    assert full.stages_completed == 2
    # cap=10: only the first 10 views are considered -> no buy seen
    capped = funnel(df, ["view", "buy"], max_events_per_user=10).collect()[0]
    assert capped.stages_completed == 1
    import pytest as _pt

    with _pt.raises(ValueError, match="max_events_per_user"):
        funnel(df, ["view"], max_events_per_user=0)


def test_session_paths_prefilter_is_lossless(spark):
    """The per-session row_number prefilter keeps results identical:
    only the first prefix_len events of a session shape its path."""
    import datetime as dt

    from duckdb_graphar_spark.operators.events import session_paths

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # one long gap-free session per user with distinct event tails
    for u in ("a", "b"):
        for i, ty in enumerate(["login", "browse", "search"] + ["scroll"] * 50):
            rows.append((u, base + dt.timedelta(seconds=i), eid, ty))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id long, event_type string"
    )
    got = session_paths(df, k=5, prefix_len=3).collect()
    assert [(r.path, r.n_sessions) for r in got] == [("login>browse>search", 2)]


def test_ohlc_bars_deterministic_open_close(spark):
    import datetime as dt

    from duckdb_graphar_spark.operators.events import ohlc_bars

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # same-timestamp tie at the open: event_id breaks it
        ("m", base, 1, 5.0),
        ("m", base, 0, 3.0),
        ("m", base + dt.timedelta(minutes=30), 2, 9.0),
        ("m", base + dt.timedelta(minutes=59), 3, 1.0),
        ("m", base + dt.timedelta(hours=1), 4, 7.0),  # next bucket
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    got = {r.bucket: r for r in ohlc_bars(df).collect()}
    b0 = got[base]
    assert (b0.open, b0.high, b0.low, b0.close, b0.n_events) == (3.0, 9.0, 1.0, 1.0, 4)
    b1 = got[base + dt.timedelta(hours=1)]
    assert (b1.open, b1.close, b1.n_events) == (7.0, 7.0, 1)


def test_kmv_merge_invariance_and_small_groups(spark):
    """(1) Bottom-k of per-partial bottom-k's == direct bottom-k (the
    mergeability the rollup is built on) — the partial-split column
    must not change a single output value.  (2) Groups with < k
    distincts report the EXACT count.  (3) The sketch estimate for a
    >k group lands within the 3/sqrt(k) band on this fixture."""
    import pyspark.sql.functions as F

    from duckdb_graphar_spark.operators.sketch import kmv_distinct_rollup

    rows = [("big", i % 7, i) for i in range(500)] + [
        ("small", i % 7, i % 5) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "grp string, day int, uid long")
    direct = kmv_distinct_rollup(df, "grp", "uid", k=16)
    merged = kmv_distinct_rollup(df, "grp", "uid", partial_col="day", k=16)
    a = {r.grp: (r.n_exact, r.kth_u, r.est_distinct, r.within_tol) for r in direct.collect()}
    b = {r.grp: (r.n_exact, r.kth_u, r.est_distinct, r.within_tol) for r in merged.collect()}
    assert a == b
    assert a["small"][0] == 5 and a["small"][2] == 5.0  # exact fallback
    assert a["big"][0] == 500 and a["big"][3] is True   # in-band estimate


def test_cms_merge_invariance_and_overestimate(spark):
    """(1) Per-partial counter partials summed == direct counters (the
    elementwise-addition merge): the partial column must not change a
    single output value.  (2) est >= exact for EVERY probed key (the
    CMS one-sided guarantee holds deterministically, not just in
    expectation).  (3) At a collision-free width the estimate is exact;
    at a tiny width (forced collisions) overcount goes positive but the
    MIN over rows still upper-bounds correctly."""
    from duckdb_graphar_spark.operators.sketch import cms_point_estimates

    rows = (
        [("a", i % 3, "hot") for i in range(60)]
        + [("a", i % 3, f"cold{i}") for i in range(30)]
        + [("b", 0, "x"), ("b", 1, "x"), ("b", 1, "y")]
    )
    df = spark.createDataFrame(rows, "grp string, day int, val string")
    direct = cms_point_estimates(df, "grp", "val", width=512, top_n=2)
    merged = cms_point_estimates(
        df, "grp", "val", partial_col="day", width=512, top_n=2
    )
    a = {(r.grp, r.key): (r.n_exact, r.est_cnt, r.overcount) for r in direct.collect()}
    b = {(r.grp, r.key): (r.n_exact, r.est_cnt, r.overcount) for r in merged.collect()}
    assert a == b
    assert a[("a", "hot")][0] == 60
    assert all(est >= exact for exact, est, _ in a.values())

    tiny = cms_point_estimates(df, "grp", "val", width=2, top_n=2)
    t = {(r.grp, r.key): (r.n_exact, r.est_cnt) for r in tiny.collect()}
    assert all(est >= exact for exact, est in t.values())
    # 31 distinct values into 2 buckets x 3 rows: collisions guaranteed
    assert any(est > exact for exact, est in t.values())


def test_cms_probe_tiebreak_deterministic(spark):
    """Probe-key selection ties break on (count DESC, value ASC) — equal
    counts pick the lexicographically smallest keys."""
    from duckdb_graphar_spark.operators.sketch import cms_point_estimates

    rows = [("g", v) for v in ["b", "b", "c", "c", "a"]]
    df = spark.createDataFrame(rows, "grp string, val string")
    got = cms_point_estimates(df, "grp", "val", top_n=2)
    keys = sorted(r.key for r in got.collect())
    assert keys == ["b", "c"]


def test_scd2_apply_extend_close_and_untouched(spark):
    """Hand fixture: (1) a batch continuing the open state EXTENDS the
    open run (same valid_from, summed n_events); (2) a state flip
    closes it at the first change; (3) untouched users pass through
    identically; (4) a brand-new user appears with fresh intervals.
    Result must equal the full rebuild."""
    import datetime as dt

    from duckdb_graphar_spark.operators.events import (
        scd2_apply,
        scd2_intervals,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, user, minutes, state):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, state)

    pre = [
        ev(1, 1, 0, "view"), ev(2, 1, 10, "view"), ev(3, 1, 20, "click"),
        ev(4, 2, 0, "view"),
        ev(5, 3, 0, "purchase"),
    ]
    post = [
        ev(6, 1, 30, "click"),   # extends user 1's open 'click' run
        ev(7, 1, 40, "view"),    # then closes it
        ev(8, 2, 30, "view"),    # extends user 2's single open run
        ev(9, 4, 30, "view"),    # brand-new user
    ]
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string"
    pre_df = spark.createDataFrame(pre, schema)
    all_df = spark.createDataFrame(pre + post, schema)
    post_df = spark.createDataFrame(post, schema)

    applied = sorted(
        map(tuple, scd2_apply(scd2_intervals(pre_df), post_df).collect())
    )
    rebuilt = sorted(map(tuple, scd2_intervals(all_df).collect()))
    assert applied == rebuilt
    got = {
        (r.user_id, r.state, r.valid_from): (r.valid_to, r.n_events)
        for r in scd2_apply(scd2_intervals(pre_df), post_df).collect()
    }
    # user 1 click run: started at min 20, extended by eid 6, closed by eid 7
    assert got[(1, "click", t0 + dt.timedelta(minutes=20))] == (
        t0 + dt.timedelta(minutes=40),
        2,
    )
    # user 3 untouched: open purchase run intact
    assert got[(3, "purchase", t0)] == (None, 1)
    # user 4 new
    assert got[(4, "view", t0 + dt.timedelta(minutes=30))] == (None, 1)


def test_sessionize_capped_duration_and_gap_breaks(spark):
    """user 1: events every 10 min (no gap breaks) — the 30-min
    duration cap alone splits into [0..30], [40..70], [80..100] (the
    boundary event at exactly start+cap STAYS: strictly-greater pin);
    user 2: a 65-min gap splits despite the duration being fine."""
    import datetime as dt

    from duckdb_graphar_spark.operators.events import sessionize_capped

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = lambda x: base + dt.timedelta(minutes=x)  # noqa: E731
    rows = [
        *[(1, m(x), x) for x in range(0, 101, 10)],
        (2, m(0), 200), (2, m(5), 201), (2, m(70), 202),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_id long")
    got = {
        (r.user_id, r.session_id): (r.session_start, r.session_end, r.n_events)
        for r in sessionize_capped(
            df, gap_seconds=1800, max_duration_seconds=1800
        ).collect()
    }
    assert got[(1, 0)] == (m(0), m(30), 4)
    assert got[(1, 1)] == (m(40), m(70), 4)
    assert got[(1, 2)] == (m(80), m(100), 3)
    assert got[(2, 0)] == (m(0), m(5), 2)
    assert got[(2, 1)] == (m(70), m(70), 1)


def test_sessionize_capped_guards(spark):
    import pytest as _pt

    from duckdb_graphar_spark.operators.events import sessionize_capped

    df = spark.createDataFrame(
        [(1, None, 1)], "user_id long, ts timestamp_ntz, event_id long"
    )
    with _pt.raises(ValueError, match="gap_seconds"):
        sessionize_capped(df, gap_seconds=0)
    with _pt.raises(ValueError, match="max_events_per_user"):
        sessionize_capped(df, max_events_per_user=0)


def test_attribution_segmented_equals_single_window(spark):
    """The (user, segment) boundary stitch is BIT-IDENTICAL to the
    single-window plan: a content-addressed event log spanning many
    tiny segments (segment_seconds=60 forces stitches everywhere,
    including views whose purchase is several segments later and
    purchases whose last view is several segments earlier) must give
    the same rows for both attribution operators under both plans."""
    from pyspark.sql import functions as F

    from duckdb_graphar_spark.operators.events import (
        last_touch_attribution,
        linear_attribution,
    )

    ev = (
        spark.range(0, 600)
        .select(
            F.col("id").alias("event_id"),
            (F.xxhash64(F.col("id"), F.lit("u")) % 7).alias("user_id"),
            F.timestamp_seconds(
                F.lit(1_700_000_000)
                + (F.xxhash64(F.col("id"), F.lit("t")) % 36_000)
            )
            .cast("timestamp_ntz")
            .alias("ts"),
            F.element_at(
                F.array(
                    F.lit("view"), F.lit("click"), F.lit("purchase"),
                    F.lit("view"), F.lit("signup"),
                ),
                (F.abs(F.xxhash64(F.col("id"), F.lit("e"))) % 5 + 1).cast("int"),
            ).alias("event_type"),
        )
    )
    for op in (last_touch_attribution, linear_attribution):
        seg = {tuple(r) for r in op(ev, segment_seconds=60).collect()}
        one = {tuple(r) for r in op(ev, segment_seconds=None).collect()}
        assert seg == one and len(seg) > 20, op.__name__

    with __import__("pytest").raises(ValueError, match="segment_seconds"):
        last_touch_attribution(ev, segment_seconds=0)
    with __import__("pytest").raises(ValueError, match="segment_seconds"):
        linear_attribution(ev, segment_seconds=0)


def test_sessionize_capped_dst_transition_instant_gaps(spark):
    """LTZ input under a DST session timezone: two events 45 real
    minutes apart straddle the US 2024-03-10 spring-forward (01:30 PST
    → 03:15 PDT — the WALL clock jumps 1 h 45 m).  With gap=1 h the
    old wall-clock arithmetic split the session; epoch-micros
    arithmetic keeps ONE session.  Output timestamps are the original
    event instants (selected, never recomputed)."""
    from pyspark.sql import functions as F

    from duckdb_graphar_spark.operators.events import sessionize_capped

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        # 2024-03-10 09:30:00Z and 10:15:00Z — 45 real minutes apart
        us = [1710063000000000, 1710065700000000]
        df = spark.createDataFrame(
            [(1, u, i) for i, u in enumerate(us)],
            "user_id long, us long, event_id long",
        ).select(
            "user_id",
            F.timestamp_micros(F.col("us")).alias("ts"),
            "event_id",
        )
        assert dict(df.dtypes)["ts"] == "timestamp"
        rows = sessionize_capped(
            df, gap_seconds=3600, max_duration_seconds=86400
        ).collect()
        assert len(rows) == 1, [
            (r.session_id, r.session_start, r.session_end) for r in rows
        ]
        r = rows[0]
        assert r.n_events == 2
        # start/end are the original instants
        starts = df.agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).first()
        assert r.session_start == starts.lo and r.session_end == starts.hi
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_running_distinct_segment_stitch(spark):
    """Segmented running-distinct equals the single-window plan on a
    fixture where repeats and first occurrences straddle segment
    boundaries, and where two events share a timestamp (id tie)."""
    import datetime as dt

    from duckdb_graphar_spark.operators.events import running_distinct

    t0 = dt.datetime(2024, 3, 1, 23, 50)
    rows = [
        # user 1: 'a' first in seg0, repeats in seg1; 'b' first in seg1
        (1, 1, "a", t0),
        (2, 1, "a", t0 + dt.timedelta(minutes=5)),
        (3, 1, "b", t0 + dt.timedelta(hours=1)),   # next day-segment
        (4, 1, "a", t0 + dt.timedelta(hours=2)),
        (5, 1, "c", t0 + dt.timedelta(days=3)),
        # user 2: timestamp tie — ids 6 and 7 at the same instant
        (6, 2, "x", t0),
        (7, 2, "y", t0),
        (8, 2, "x", t0 + dt.timedelta(days=1)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    seg = {
        (r.event_id): r.n_distinct
        for r in running_distinct(df, segment_seconds=3600).collect()
    }
    single = {
        (r.event_id): r.n_distinct
        for r in running_distinct(df, segment_seconds=None).collect()
    }
    assert seg == single
    assert seg == {1: 1, 2: 1, 3: 2, 4: 2, 5: 3, 6: 1, 7: 2, 8: 2}


def test_running_distinct_rejects_bad_segment(spark):
    import pytest as _pt

    from duckdb_graphar_spark.operators.events import running_distinct

    df = spark.createDataFrame(
        [(1, 1, "a", __import__("datetime").datetime(2024, 1, 1))],
        "event_id long, user_id long, event_type string, ts timestamp_ntz",
    )
    with _pt.raises(ValueError, match="segment_seconds"):
        running_distinct(df, segment_seconds=0)


def test_time_decay_attribution_weights_and_stitch(spark):
    """Dyadic weights: a view n whole days before its purchase gets
    2^(50-n); the cap floors at 2^0; segmented == single-window; per-
    purchase credit sums to 1 exactly."""
    import datetime as dt

    from duckdb_graphar_spark.operators.events import time_decay_attribution

    p = dt.datetime(2024, 6, 1, 12, 0)
    rows = [
        (1, 7, "view", p - dt.timedelta(days=3)),          # 3 half-lives
        (2, 7, "view", p - dt.timedelta(days=1, hours=2)), # 1 (floor of 1.08)
        (3, 7, "view", p - dt.timedelta(minutes=5)),       # 0
        (4, 7, "view", p - dt.timedelta(days=400)),        # capped at 50
        (5, 7, "purchase", p),
        (6, 7, "view", p + dt.timedelta(hours=1)),         # after last purchase: dropped
        (7, 8, "view", p),
        (8, 8, "purchase", p + dt.timedelta(days=60)),     # capped
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    got = {
        r.view_id: (r.purchase_id, r.halflives, r.weight, r.credit)
        for r in time_decay_attribution(df).collect()
    }
    tot = (1 << 47) + (1 << 49) + (1 << 50) + 1
    assert got == {
        1: (5, 3, 1 << 47, (1 << 47) / tot),
        2: (5, 1, 1 << 49, (1 << 49) / tot),
        3: (5, 0, 1 << 50, (1 << 50) / tot),
        4: (5, 50, 1, 1 / tot),
        7: (8, 50, 1, 1.0),
    }
    single = {
        r.view_id: (r.purchase_id, r.halflives, r.weight, r.credit)
        for r in time_decay_attribution(df, segment_seconds=None).collect()
    }
    assert single == got


def test_time_decay_attribution_guards(spark):
    import datetime as dt

    import pytest as _pt

    from duckdb_graphar_spark.operators.events import time_decay_attribution

    df = spark.createDataFrame(
        [(1, 1, "view", dt.datetime(2024, 1, 1))],
        "event_id long, user_id long, event_type string, ts timestamp_ntz",
    )
    with _pt.raises(ValueError, match="max_halflives"):
        time_decay_attribution(df, max_halflives=63)
    with _pt.raises(ValueError, match="half_life_seconds"):
        time_decay_attribution(df, half_life_seconds=0)
    with _pt.raises(ValueError, match="segment_seconds"):
        time_decay_attribution(df, segment_seconds=0)


def test_clamped_balance_equals_recurrence(spark):
    """The Lindley closed form must equal the literal per-row fold
    max(0, B + delta) on a randomized fixture, and the segmented plan
    must equal the single-window plan (cross-boundary low-water
    carries included)."""
    import datetime as dt
    import random

    from duckdb_graphar_spark.operators.events import clamped_running_balance

    rng = random.Random(42)
    base = dt.datetime(2024, 2, 1)
    rows, want = [], {}
    eid = 0
    for user in (1, 2, 3):
        bal = 0
        for i in range(60):
            eid += 1
            delta = rng.randint(-50, 40)
            ts = base + dt.timedelta(hours=i * 7)  # crosses day segments
            bal = max(0, bal + delta)
            rows.append((eid, user, delta, ts))
            want[eid] = bal
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, delta long, ts timestamp_ntz"
    )
    seg = {
        r.event_id: r.balance
        for r in clamped_running_balance(df, segment_seconds=86_400).collect()
    }
    single = {
        r.event_id: r.balance
        for r in clamped_running_balance(df, segment_seconds=None).collect()
    }
    assert seg == want
    assert single == want


def test_clamped_balance_guards(spark):
    import datetime as dt

    import pytest as _pt

    from duckdb_graphar_spark.operators.events import clamped_running_balance

    df = spark.createDataFrame(
        [(1, 1, 5, dt.datetime(2024, 1, 1))],
        "event_id long, user_id long, delta long, ts timestamp_ntz",
    )
    with _pt.raises(ValueError, match="segment_seconds"):
        clamped_running_balance(df, segment_seconds=0)


def test_running_distinct_null_value_counts_as_distinct(spark):
    """SQL window semantics: NULL is its own distinct value — the
    null-safe stamp join must keep (and count) null-valued rows."""
    import datetime as dt

    from duckdb_graphar_spark.operators.events import running_distinct

    t0 = dt.datetime(2024, 5, 1)
    rows = [
        (1, 1, "a", t0),
        (2, 1, None, t0 + dt.timedelta(minutes=1)),
        (3, 1, None, t0 + dt.timedelta(minutes=2)),
        (4, 1, "b", t0 + dt.timedelta(days=2)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    got = {
        r.event_id: r.n_distinct for r in running_distinct(df).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 4: 3}


def test_kll_merge_invariance_exact_fallback_and_null_group(spark):
    """(1) Per-partial level sketches merged == direct sketch — every
    output value identical (the q102 theorem).  (2) A group with
    n <= k keeps everything: t_level 0, m_kept == n, and each q*_est
    is the EXACT percentile_disc value.  (3) A NULL group key is a
    legitimate group (eqNullSafe stamp joins, the q94/q98 gotcha) and
    NULL values are excluded from the sketch domain."""
    from duckdb_graphar_spark.operators.sketch import kll_quantile_rollup

    rows = (
        [("big", i % 7, i, float((i * 37) % 1000)) for i in range(600)]
        + [("small", i % 7, 1000 + i, float(i)) for i in range(20)]
        + [(None, i % 7, 2000 + i, float(i)) for i in range(10)]
        + [("small", 0, 3000, None)]  # NULL value: not in the domain
    )
    df = spark.createDataFrame(rows, "grp string, day int, tag long, v double")
    direct = kll_quantile_rollup(df, "grp", "v", "tag", k=64, audit=True)
    merged = kll_quantile_rollup(
        df, "grp", "v", "tag", partial_col="day", k=64, audit=True
    )
    a = {r.grp: tuple(r)[1:] for r in direct.collect()}
    b = {r.grp: tuple(r)[1:] for r in merged.collect()}
    assert a == b and set(a) == {"big", "small", None}
    # exact fallback: small group (20 non-null values 0..19)
    n, t, m, est_n, q25, q50, q75, rank, tol = a["small"]
    assert (n, t, m, est_n) == (20, 0, 20, 20)
    sv = sorted(float(i) for i in range(20))
    assert (q25, q50, q75) == (sv[19 * 1 // 4], sv[19 * 1 // 2], sv[19 * 3 // 4])
    assert tol is True
    # big group actually engaged the sampler
    nb, tb, mb, est_nb = a["big"][:4]
    assert nb == 600 and tb >= 1 and 0 < mb <= 64 and est_nb == mb * (1 << tb)
    # NULL group intact with its 10 rows
    assert a[None][0] == 10 and a[None][1] == 0 and a[None][2] == 10


def test_kll_sketch_partition_invariance(spark):
    """The sketch is a deterministic function of the ROW SET: an
    adversarial repartition/shuffle of the input must not change one
    output value (this is what licenses the cross-engine oracle)."""
    from duckdb_graphar_spark.operators.sketch import kll_quantile_rollup

    rows = [("g", i % 11, i, float((i * 13) % 500)) for i in range(700)]
    df = spark.createDataFrame(rows, "grp string, day int, tag long, v double")
    a = sorted(map(tuple, kll_quantile_rollup(df, "grp", "v", "tag", k=32).collect()))
    shuffled = df.repartition(17, "v").sortWithinPartitions("day")
    b = sorted(map(tuple, kll_quantile_rollup(shuffled, "grp", "v", "tag", k=32).collect()))
    c = sorted(map(tuple, kll_quantile_rollup(
        shuffled, "grp", "v", "tag", partial_col="day", k=32).collect()))
    assert a == b == c


def test_kll_sketch_top_level_collapse_is_deterministic(spark):
    """The measure-zero collapse: every row at level 0 with n > k forces
    T = 1 and an EMPTY kept set — m_kept 0, est_n 0, all estimates and
    q50_rank NULL, within_tol NULL.  Deterministic on both engines (the
    oracle computes the same), so the output contract is pinned rather
    than papered over.  Tags 0,1,3,4,6,8 hash to level 0 under seed
    kll0 (md5 trailing-zero bits, precomputed)."""
    from duckdb_graphar_spark.operators.sketch import kll_quantile_rollup

    rows = [("g", t, float(t)) for t in (0, 1, 3, 4, 6, 8)]
    df = spark.createDataFrame(rows, "grp string, tag long, v double")
    out = kll_quantile_rollup(df, "grp", "v", "tag", k=2, audit=True).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_exact, r.t_level, r.m_kept, r.est_n) == (6, 1, 0, 0)
    assert r.q25_est is None and r.q50_est is None and r.q75_est is None
    assert r.q50_rank is None and r.within_tol is None


def test_kll_merged_path_keeps_collapsed_group(spark):
    """The r11-advice defect: in the MERGED (partial_col) path a group
    whose every per-partial survivor sits below the merge floor has an
    empty surv set, so the group-level threshold pass emits no row —
    an inner join from n_exact then DELETED the group, while the
    direct sketch emits it as the collapse row (t_level = floor,
    m_kept = 0, est_n = 0, NULL estimates; T_union == floor exactly
    when the floor-filtered survivor union is empty).  Tags 0,1,3,4,
    6,8 all hash to level 0 under seed kll0; the t%2 split gives day0
    four rows (> k=2 → per-partial T=1, no survivors) and day1 two
    rows (T=0, both survive at level 0) — the floor=1 filter then
    empties the union.  A second healthy group pins that the left-join
    repair doesn't disturb non-collapsed output."""
    from duckdb_graphar_spark.operators.sketch import kll_quantile_rollup

    rows = [("g", t % 2, t, float(t)) for t in (0, 1, 3, 4, 6, 8)] + [
        ("h", i % 2, 100 + i, float(i)) for i in range(2)  # n <= k: exact
    ]
    df = spark.createDataFrame(rows, "grp string, day int, tag long, v double")
    direct = {r.grp: tuple(r)[1:] for r in
              kll_quantile_rollup(df, "grp", "v", "tag", k=2).collect()}
    merged = {r.grp: tuple(r)[1:] for r in
              kll_quantile_rollup(df, "grp", "v", "tag",
                                  partial_col="day", k=2).collect()}
    assert set(merged) == {"g", "h"}, "collapsed group must not vanish"
    assert merged == direct
    n, t, m, est_n = merged["g"][:4]
    assert (n, t, m, est_n) == (6, 1, 0, 0)
    assert all(v is None for v in merged["g"][4:])


def test_sessionize_capped_null_user_split_across_batches(spark):
    """Null user_ids form ONE group, as under groupBy().applyInPandas,
    even when the null run spans several Arrow batches: one session
    sequence (ids 0, 1, ...) for the null user, not one per batch or
    per row."""
    import datetime as dt

    from duckdb_graphar_spark.operators.events import sessionize_capped

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = lambda x: base + dt.timedelta(minutes=x)  # noqa: E731
    # null user: 0..50 every 10 min (one session), gap, 120..140
    null_min = [*range(0, 51, 10), 120, 130, 140]
    rows = [(None, m(x), i) for i, x in enumerate(null_min)]
    rows += [(1, m(0), 100), (1, m(5), 101), (2, m(0), 200)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_id long"
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        got = sorted(
            (r.user_id is None, r.user_id or 0, r.session_id,
             r.session_start, r.session_end, r.n_events)
            for r in sessionize_capped(
                df, gap_seconds=1800, max_duration_seconds=86400
            ).collect()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert got == [
        (False, 1, 0, m(0), m(5), 2),
        (False, 2, 0, m(0), m(0), 1),
        (True, 0, 0, m(0), m(50), 6),
        (True, 0, 1, m(120), m(140), 3),
    ]
