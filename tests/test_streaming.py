"""Structured Streaming tests: streaming result == batch result on the
same (finite) events table, driven through a memory sink."""

import pytest
from pyspark.sql import functions as F

from duckdb_graphar_spark.streaming import ops as S
from duckdb_graphar_spark.tables import load_table


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return load_table(spark, sf_dir, "events").cache()


def _canon(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_stream_matches_batch(spark, sf_dir, events_batch):
    stream = S.read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = S.tumbling_window_agg(stream, watermark="100 days")
    got = S.run_to_memory(agg, "tumbling_out")
    exp = S.tumbling_window_agg(events_batch)
    cols = ["window_start", "window_end", "event_type", "n", "sum_value"]
    assert _canon(got, cols) == _canon(exp, cols)


def test_session_window_batch(events_batch):
    out = S.session_window_agg(events_batch)
    assert out.count() > 0
    r = out.agg(F.sum("n_events").alias("s")).collect()[0].s
    assert r == events_batch.count()


def test_stateful_dedup_stream(spark, sf_dir, events_batch):
    stream = S.read_events_stream(spark, f"{sf_dir}/events.parquet")
    dd = S.stateful_dedup(stream, keys=["event_id"], watermark="100 days")
    q = dd.writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("dedup_out").count()
    exp = events_batch.dropDuplicates(["event_id"]).count()
    assert got == exp


def test_stateful_user_totals_stream_matches_batch(spark, sf_dir):
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stateful_user_totals,
    )
    from duckdb_graphar_spark.tables import load_table
    import pyspark.sql.functions as F

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    out = run_to_memory(
        stateful_user_totals(stream, watermark="365 days"), "sut_test", mode="update"
    )
    # keep the last update per user (memory sink appends per-batch updates)
    final = {r.user_id: (r.n_events, round(r.total_value, 4)) for r in out.collect()}
    batch = stateful_user_totals(load_table(spark, sf_dir, "events"))
    expect = {r.user_id: (r.n_events, round(r.total_value, 4)) for r in batch.collect()}
    assert final == expect


def test_stateful_user_totals_tws_matches_batch(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 StatefulProcessor) agrees with
    the batch groupBy equivalent.

    This container ships no `protobuf` wheel and pip is unavailable, and
    pyspark's TWS state-server protocol needs the REAL protobuf runtime
    (generated pb2 modules + descriptor machinery — a vendored stub
    cannot satisfy it).  Where protobuf is absent this test instead
    HARD-verifies the documented degradation: the operator must raise
    ImportError pointing at the applyInPandasWithState equivalent
    (st05), which covers the same semantics and is driver-verified.  On
    a protobuf-equipped deployment the parity branch runs as-is."""
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stateful_user_totals_tws,
    )
    from duckdb_graphar_spark.tables import load_table

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
        with pytest.raises(ImportError, match="applyInPandasWithState|protobuf"):
            stateful_user_totals_tws(stream, watermark="365 days")
        return

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
        out = run_to_memory(
            stateful_user_totals_tws(stream, watermark="365 days"),
            "tws_test",
            mode="update",
        )
        final = {r.user_id: (r.n_events, round(r.total_value, 4)) for r in out.collect()}
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    batch = stateful_user_totals_tws(load_table(spark, sf_dir, "events"))
    expect = {r.user_id: (r.n_events, round(r.total_value, 4)) for r in batch.collect()}
    assert final == expect


def test_stream_stream_join_matches_batch(spark, sf_dir, events_batch):
    left = S.read_events_stream(spark, f"{sf_dir}/events.parquet")
    right = S.read_events_stream(spark, f"{sf_dir}/events.parquet")
    got = S.run_to_memory(
        S.stream_stream_join(left, right, within="10 minutes"),
        "ssj_out",
        mode="append",
    )
    exp = S.stream_stream_join(events_batch, events_batch, within="10 minutes")
    cols = ["user_id", "a_id", "b_id", "a_ts", "b_ts"]
    assert _canon(got, cols) == _canon(exp, cols)
    # every pair obeys the time bound and at least one pair exists
    rows = got.collect()
    assert rows
    for r in rows:
        assert 0 <= (r.b_ts - r.a_ts).total_seconds() <= 600


def test_foreach_batch_sink_multi_batch(spark, sf_dir, events_batch, tmp_path):
    """Two input files -> two micro-batches -> two batch_id dirs whose
    union equals the batch filter."""
    import os

    from duckdb_graphar_spark.streaming.sinks import (
        foreach_batch_parquet_sink,
        read_parquet_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    half = events_batch.filter(F.col("event_id") % 2 == 0)
    other = events_batch.filter(F.col("event_id") % 2 == 1)
    half.coalesce(1).write.parquet(str(src / "a.parquet"))
    other.coalesce(1).write.parquet(str(src / "b.parquet"))
    stream = (
        spark.readStream.schema(events_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "value")
    )
    out_dir = str(tmp_path / "sink")
    foreach_batch_parquet_sink(stream, out_dir, checkpoint=str(tmp_path / "ckpt"))
    batch_dirs = [d for d in os.listdir(out_dir) if d.startswith("batch_id=")]
    assert len(batch_dirs) >= 2
    got = read_parquet_sink(spark, out_dir)
    exp = events_batch.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "value"
    )
    assert _canon(got, ["event_id", "user_id", "value"]) == _canon(
        exp, ["event_id", "user_id", "value"]
    )


def test_trending_topk_ranks_finalized_windows(spark):
    from duckdb_graphar_spark.streaming.ops import trending_topk

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0)
    sink = spark.createDataFrame(
        [
            (t0, "a", 5), (t0, "b", 9), (t0, "c", 5), (t0, "d", 1),
            (dt.datetime(2024, 1, 1, 0, 5), "x", 2),
        ],
        "window_start timestamp, event_type string, n long",
    )
    got = [(r.window_start, r.event_type, r.rank) for r in
           trending_topk(sink, k=3).orderBy("window_start", "rank").collect()]
    assert got == [
        (t0, "b", 1), (t0, "a", 2), (t0, "c", 3),  # tie a/c → a first
        (dt.datetime(2024, 1, 1, 0, 5), "x", 1),
    ]


def test_stream_stream_left_join_batch_twin(spark):
    """Batch mode degrades to a plain left join: unmatched views emit
    null-padded immediately (no watermark machinery in batch)."""
    import datetime as dt

    from duckdb_graphar_spark.streaming.ops import stream_stream_left_join

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 7, "view", 0.0, ""),
        (2, base + dt.timedelta(minutes=5), 7, "purchase", 0.0, ""),
        (3, base + dt.timedelta(hours=2), 7, "view", 0.0, ""),  # no match
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {(r.a_id, r.b_id) for r in stream_stream_left_join(df, df).collect()}
    assert got == {(1, 2), (3, None)}


def test_stream_stream_semi_join_batch_twin(spark):
    """Batch mode degrades to a plain left-semi join: each converting
    view emits EXACTLY ONCE even with multiple in-window purchases; a
    view with no in-window purchase never emits; output carries no
    right columns."""
    import datetime as dt

    from duckdb_graphar_spark.streaming.ops import stream_stream_semi_join

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 7, "view", 0.0, ""),
        (2, base + dt.timedelta(minutes=3), 7, "purchase", 0.0, ""),
        (3, base + dt.timedelta(minutes=5), 7, "purchase", 0.0, ""),
        (4, base + dt.timedelta(hours=2), 7, "view", 0.0, ""),  # no match
        (5, base, 8, "view", 0.0, ""),  # other user, no purchase
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = stream_stream_semi_join(df, df).collect()
    assert [r.a_id for r in out] == [1]  # once, despite 2 matches
    assert set(out[0].asDict()) == {"user_id", "a_id", "a_ts"}


def test_streaming_ohlc_batch_twin(spark):
    """Batch mode: the q72 shape on a window column; deterministic
    open/close via (ts, event_id) tie-breaks."""
    import datetime as dt

    from duckdb_graphar_spark.streaming.ops import streaming_ohlc

    base = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        (1, base, 1, "m", 5.0, ""),
        (0, base, 1, "m", 3.0, ""),  # same ts, lower id -> open
        (2, base + dt.timedelta(minutes=50), 1, "m", 8.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r = streaming_ohlc(df).collect()[0]
    assert (r.open, r.high, r.low, r.close, r.n_events) == (3.0, 8.0, 3.0, 8.0, 3)
    assert r.bucket == base


def _stage_three_batches(spark, sf_dir, stage):
    """Split events into three mtime-ordered single-file micro-batches
    (event_id mod 3) so per-group state provably spans batches."""
    ev = load_table(spark, sf_dir, "events")
    S.stage_event_batches([ev.filter(F.col("event_id") % 3 == i) for i in range(3)], stage)


def test_stateful_user_totals_multi_batch_state_merge(spark, sf_dir, tmp_path):
    """REGRESSION: GroupState.get is a property, not a method — any
    group whose rows span 2+ micro-batches hits the exists-path that
    the single-file fixture never reached (found by st16's staging).
    Final per-user totals across three staged batches must equal the
    batch aggregate."""
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stateful_user_totals,
    )
    from duckdb_graphar_spark.tables import load_table

    stage = str(tmp_path / "stage")
    _stage_three_batches(spark, sf_dir, stage)
    stream = read_events_stream(spark, stage, max_files=1)
    out = run_to_memory(
        stateful_user_totals(stream, watermark="365 days"),
        "sut_mb_test",
        mode="update",
    )
    # memory sink appends one row per (user, updating batch); the final
    # state is the max-n_events row per user
    final = {}
    for r in out.collect():
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, round(r.total_value, 4))
    batch = stateful_user_totals(load_table(spark, sf_dir, "events"))
    expect = {r.user_id: (r.n_events, round(r.total_value, 4)) for r in batch.collect()}
    assert final == expect


def test_streaming_kmv_batch_boundary_invariance(spark, sf_dir, tmp_path):
    """The streaming KMV sketch's final state must be identical whether
    the rows arrive in 3 micro-batches or 1 (bottom-k merge order
    independence — what licenses st16's full value oracle), and must
    equal the batch kmv_distinct_rollup sketch over the same rows."""
    import os

    from duckdb_graphar_spark.operators.sketch import kmv_distinct_rollup
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_kmv_distinct,
    )
    from duckdb_graphar_spark.tables import load_table
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    stage = str(tmp_path / "stage")
    _stage_three_batches(spark, sf_dir, stage)

    def final_sketch(path, name):
        stream = read_events_stream(spark, path, max_files=1)
        raw = run_to_memory(
            streaming_kmv_distinct(stream, k=16), name, mode="update"
        )
        w = Window.partitionBy("g").orderBy(F.desc("n_seen"))
        return {
            r.g: (r.n_seen, r.n_sk, r.kth_u)
            for r in raw.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .collect()
        }

    staged = final_sketch(stage, "kmv_staged")
    single = final_sketch(f"{sf_dir}/events.parquet", "kmv_single")
    assert staged == single

    batch = {
        r.event_type: (r.kth_u, r.n_exact)
        for r in kmv_distinct_rollup(
            load_table(spark, sf_dir, "events"), "event_type", "user_id", k=16
        ).collect()
    }
    for g, (n_seen, n_sk, kth_u) in staged.items():
        if n_sk == 16:
            assert round(kth_u, 12) == batch[g][0]
        else:
            assert n_sk == batch[g][1]  # exact fallback below capacity


def test_streaming_cms_batch_boundary_invariance(spark, sf_dir, tmp_path):
    """The streaming CMS counter table (max-n_seen emission per group)
    must be cell-for-cell identical whether rows arrive in 3
    micro-batches or 1 — counter addition is batch-boundary-free,
    which is what licenses st17 sharing q81's oracle verbatim."""
    import os

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_cms,
    )
    import pyspark.sql.functions as F

    stage = str(tmp_path / "stage")
    _stage_three_batches(spark, sf_dir, stage)

    def final_cells(path, name):
        stream = read_events_stream(spark, path, max_files=1)
        sink = run_to_memory(
            streaming_cms(stream, depth=2, width=64), name, mode="update"
        )
        raw = spark.createDataFrame(sink.collect(), sink.schema)
        mx = raw.groupBy("g").agg(F.max("n_seen").alias("n_seen"))
        return {
            (r.g, r.j, r.b): r.c
            for r in raw.join(mx, ["g", "n_seen"]).collect()
        }

    staged = final_cells(stage, "cms_staged")
    single = final_cells(f"{sf_dir}/events.parquet", "cms_single")
    assert staged and staged == single


def test_streaming_capped_sessions_matches_batch(spark, tmp_path):
    """Two time-split micro-batches over a fixture whose sessions span
    the batch boundary: the reconstructed (max-n_seen) session table
    equals the batch sessionize_capped output exactly — including a
    session that STARTS in batch 0 and extends in batch 1."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_graphar_spark.operators.events import sessionize_capped
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_capped_sessions,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = lambda x: base + dt.timedelta(minutes=x)  # noqa: E731
    rows = [
        # user 1: continuous every 10 min; 30-min cap splits mid-stream
        *[(x, m(x), 1, "view", 0.0, "") for x in range(0, 101, 10)],
        # user 2: gap break lands exactly at the batch boundary
        (200, m(0), 2, "view", 0.0, ""), (201, m(5), 2, "view", 0.0, ""),
        (202, m(70), 2, "view", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    stage = str(tmp_path / "stage")
    S.stage_event_batches(
        [df.filter(F.col("ts") <= m(50)), df.filter(F.col("ts") > m(50))], stage
    )
    stream = read_events_stream(spark, stage, max_files=1)
    sink = run_to_memory(
        streaming_capped_sessions(
            stream, gap_seconds=1800, max_duration_seconds=1800
        ),
        "st_capped_test",
        mode="update",
    )
    raw = spark.createDataFrame(sink.collect(), sink.schema)
    final_n = raw.groupBy("user_id", "session_id").agg(
        F.max("n_seen").alias("n_seen")
    )
    got = {
        (r.user_id, r.session_id): (
            r.session_start,
            r.session_end,
            r.n_events,
        )
        for r in raw.join(final_n, ["user_id", "session_id", "n_seen"]).collect()
    }
    want = {
        (r.user_id, r.session_id): (r.session_start, r.session_end, r.n_events)
        for r in sessionize_capped(
            df, gap_seconds=1800, max_duration_seconds=1800
        ).collect()
    }
    assert got == want and len(want) == 5


def test_streaming_capped_sessions_requires_stream(spark):
    import pytest as _pt

    from duckdb_graphar_spark.streaming.ops import streaming_capped_sessions

    df = spark.createDataFrame(
        [(1, None, 1, "view", 0.0, "")],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    with _pt.raises(ValueError, match="streaming"):
        streaming_capped_sessions(df)


def test_stream_anti_join_corrects_across_batches(spark, tmp_path):
    """Hand-built two-batch fixture: users 1 and 2 view in batch 0;
    user 2's first purchase arrives only in batch 1, so its batch-0
    matched=false emissions MUST be corrected out of state; user 3
    purchases before ever viewing (later views emit matched=true
    immediately).  The reconstructed anti set = user 1's views only —
    the batch LEFT ANTI result."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_stream_anti_join,
    )

    base = dt.datetime(2024, 1, 1)
    m = lambda x: base + dt.timedelta(minutes=x)  # noqa: E731
    rows = [
        (1, m(0), 1, "view", 0.0, ""),
        (2, m(1), 1, "view", 0.0, ""),
        (3, m(2), 2, "view", 0.0, ""),
        (4, m(3), 2, "view", 0.0, ""),
        (5, m(4), 3, "purchase", 0.0, ""),
        # batch 1 (ts > 30)
        (6, m(40), 2, "purchase", 0.0, ""),
        (7, m(41), 3, "view", 0.0, ""),
        (8, m(42), 1, "view", 0.0, ""),
        (9, m(43), 4, "click", 0.0, ""),  # neither side: ignored
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    stage = str(tmp_path / "stage")
    S.stage_event_batches(
        [df.filter(F.col("ts") <= m(30)), df.filter(F.col("ts") > m(30))], stage
    )
    stream = read_events_stream(spark, stage, max_files=1)
    sink = run_to_memory(
        stream_stream_anti_join(stream), "st_anti_test", mode="update"
    )
    raw = spark.createDataFrame(sink.collect(), sink.schema)
    # user 2's batch-0 views were provisionally emitted matched=false
    assert raw.filter(
        (F.col("user_id") == 2) & ~F.col("matched")
    ).count() == 2
    final_n = raw.groupBy("event_id").agg(F.max("n_seen").alias("n_seen"))
    final = raw.join(final_n, ["event_id", "n_seen"])
    anti = {
        (r.user_id, r.event_id)
        for r in final.filter(~F.col("matched")).collect()
    }
    assert anti == {(1, 1), (1, 2), (1, 8)}
    # ...and the corrected user-2 / immediate user-3 verdicts are true
    assert {
        (r.user_id, r.event_id)
        for r in final.filter(F.col("matched")).collect()
    } == {(2, 3), (2, 4), (3, 7)}


def test_stream_anti_join_requires_stream(spark):
    """applyInPandasWithState is stream-only: batch input must raise
    the documented ValueError, not an opaque JVM error."""
    import datetime as dt

    import pytest as _pt

    from duckdb_graphar_spark.streaming.ops import stream_stream_anti_join

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "click", 0.0, "")],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    with _pt.raises(ValueError, match="streaming"):
        stream_stream_anti_join(df)


def test_stream_anti_join_horizon(spark, tmp_path):
    """Horizon mode ('no match within T ⇒ anti', T = 1 h): user 1 has
    no purchase at all (anti); user 2's views are corrected by a
    purchase 38/39 min later arriving in a LATER batch; user 3's
    purchase precedes its view (anti — the case unbounded mode calls
    matched); user 4's purchase lands 90 min after the view, outside
    the horizon (anti).  Two far-future nudge batches then drag the
    watermark past every deadline so the EventTimeTimeout eviction
    branch actually fires — final verdicts must be unchanged, proving
    finalized state can be dropped."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_stream_anti_join,
    )

    base = dt.datetime(2024, 1, 1)
    m = lambda x: base + dt.timedelta(minutes=x)  # noqa: E731
    rows = [
        # batch 0 (ts <= 30)
        (1, m(0), 1, "view", 0.0, ""),
        (2, m(1), 2, "view", 0.0, ""),
        (3, m(2), 2, "view", 0.0, ""),
        (4, m(4), 3, "purchase", 0.0, ""),
        (5, m(0), 4, "view", 0.0, ""),
        # batch 1 (30 < ts <= 200)
        (6, m(40), 2, "purchase", 0.0, ""),
        (7, m(41), 3, "view", 0.0, ""),
        (8, m(90), 4, "purchase", 0.0, ""),
        # batches 2-3: watermark nudges (user 99 excluded from asserts)
        (90, m(100000), 99, "view", 0.0, ""),
        (91, m(100100), 99, "view", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    stage = str(tmp_path / "stage")
    conds = (
        F.col("ts") <= m(30),
        (F.col("ts") > m(30)) & (F.col("ts") <= m(200)),
        F.col("event_id") == 90,
        F.col("event_id") == 91,
    )
    S.stage_event_batches([df.filter(c) for c in conds], stage)
    stream = read_events_stream(spark, stage, max_files=1)
    sink = run_to_memory(
        stream_stream_anti_join(
            stream, horizon_seconds=3600, watermark="30 minutes"
        ),
        "st_anti_horizon_test",
        mode="update",
    )
    raw = spark.createDataFrame(sink.collect(), sink.schema).filter(
        F.col("user_id") != 99
    )
    # user 2's batch-0 views were provisionally emitted matched=false
    assert raw.filter((F.col("user_id") == 2) & ~F.col("matched")).count() == 2
    final_n = raw.groupBy("event_id").agg(F.max("n_seen").alias("n_seen"))
    final = raw.join(final_n, ["event_id", "n_seen"])
    anti = {
        (r.user_id, r.event_id)
        for r in final.filter(~F.col("matched")).collect()
    }
    assert anti == {(1, 1), (3, 7), (4, 5)}
    assert {
        (r.user_id, r.event_id)
        for r in final.filter(F.col("matched")).collect()
    } == {(2, 2), (2, 3)}


def test_stream_anti_join_horizon_validation(spark):
    """horizon_seconds=0 is rejected before any stream machinery."""
    import pytest as _pt

    from duckdb_graphar_spark.streaming.ops import stream_stream_anti_join

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr(
            "value AS event_id",
            "timestamp AS ts",
            "value AS user_id",
            "'view' AS event_type",
        )
    )
    with _pt.raises(ValueError, match="horizon_seconds"):
        stream_stream_anti_join(stream, horizon_seconds=0)


def test_streaming_funnel_anchors_across_batches(spark, tmp_path):
    """Funnel anchors survive micro-batch boundaries: user 1 views in
    batch 0 and clicks+purchases in batch 1 (full conversion, so the
    batch-0 provisional stage-1 emission is superseded); user 2's
    purchase at the SAME timestamp as its click must NOT advance
    (strictly-after tie semantics); user 3 clicks without ever viewing
    (stage 0, NULL completed_at)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_funnel,
    )

    base = dt.datetime(2024, 1, 1)
    m = lambda x: base + dt.timedelta(minutes=x)  # noqa: E731
    rows = [
        # batch 0
        (1, m(0), 1, "view", 0.0, ""),
        (2, m(1), 2, "view", 0.0, ""),
        (3, m(2), 3, "click", 0.0, ""),
        # batch 1
        (4, m(40), 1, "click", 0.0, ""),
        (5, m(41), 1, "purchase", 0.0, ""),
        (6, m(42), 2, "click", 0.0, ""),
        (7, m(42), 2, "purchase", 0.0, ""),  # tie with the click: no advance
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    stage = str(tmp_path / "stage")
    S.stage_event_batches(
        [df.filter(F.col("ts") <= m(30)), df.filter(F.col("ts") > m(30))], stage
    )
    stream = read_events_stream(spark, stage, max_files=1)
    sink = run_to_memory(
        streaming_funnel(stream, ["view", "click", "purchase"]),
        "st_funnel_test",
        mode="update",
    )
    raw = spark.createDataFrame(sink.collect(), sink.schema)
    # user 1's batch-0 emission is provisional stage 1
    b0 = raw.filter((F.col("user_id") == 1) & (F.col("stages_completed") == 1))
    assert b0.count() == 1
    final_n = raw.groupBy("user_id").agg(F.max("n_seen").alias("n_seen"))
    final = {
        r.user_id: (r.stages_completed, r.completed_at)
        for r in raw.join(final_n, ["user_id", "n_seen"]).collect()
    }
    assert final[1] == (3, m(41))
    assert final[2] == (2, m(42))  # purchase tied with click: stage 2
    assert final[3] == (0, None)


def test_streaming_funnel_guards(spark):
    import datetime as dt

    import pytest as _pt

    from duckdb_graphar_spark.streaming.ops import streaming_funnel

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "view", 0.0, "")],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    with _pt.raises(ValueError, match="streaming"):
        streaming_funnel(df, ["view"])
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("timestamp AS ts", "value AS user_id", "'view' AS event_type")
    )
    with _pt.raises(ValueError, match="stages"):
        streaming_funnel(stream, [])


def test_streaming_funnel_window_freezes_across_batches(spark, tmp_path):
    """Conversion-window mode (1 h): user 1 clicks 30 min after the
    view (advances) then purchases 2 h after the click — the FIRST
    purchase after the anchor is beyond the window, so the funnel
    freezes at 2 even though a later batch has another purchase; user
    2's click lands 90 min after the view in a LATER batch — frozen at
    1 the moment that click is seen, and its in-window purchase right
    after must NOT resurrect it."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_funnel,
    )

    base = dt.datetime(2024, 1, 1)
    m = lambda x: base + dt.timedelta(minutes=x)  # noqa: E731
    rows = [
        # batch 0 (<= 60)
        (1, m(0), 1, "view", 0.0, ""),
        (2, m(30), 1, "click", 0.0, ""),
        (3, m(5), 2, "view", 0.0, ""),
        # batch 1 (60 < ts <= 200)
        (4, m(150), 1, "purchase", 0.0, ""),  # 2 h after click: stuck at 2
        (5, m(95), 2, "click", 0.0, ""),      # 90 min after view: stuck at 1
        (6, m(100), 2, "purchase", 0.0, ""),  # within window of the click,
                                              # but the funnel already froze
        # batch 2 (> 200)
        (7, m(210), 1, "purchase", 0.0, ""),  # frozen funnels stay frozen
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    stage = str(tmp_path / "stage")
    conds = (
        F.col("ts") <= m(60),
        (F.col("ts") > m(60)) & (F.col("ts") <= m(200)),
        F.col("ts") > m(200),
    )
    S.stage_event_batches([df.filter(c) for c in conds], stage)
    stream = read_events_stream(spark, stage, max_files=1)
    sink = run_to_memory(
        streaming_funnel(
            stream, ["view", "click", "purchase"], max_gap_us=3_600_000_000
        ),
        "st_funnel_window_test",
        mode="update",
    )
    raw = spark.createDataFrame(sink.collect(), sink.schema)
    final_n = raw.groupBy("user_id").agg(F.max("n_seen").alias("n_seen"))
    final = {
        r.user_id: (r.stages_completed, r.completed_at)
        for r in raw.join(final_n, ["user_id", "n_seen"]).collect()
    }
    assert final[1] == (2, m(30))
    assert final[2] == (1, m(5))

    import pytest as _pt

    with _pt.raises(ValueError, match="max_gap_us"):
        streaming_funnel(stream, ["view"], max_gap_us=0)


def test_stream_scd2_enrich_point_in_time(spark, tmp_path):
    """Hand-built dimension with two state runs per user (open-ended
    current state) driven by a two-batch purchase stream: each purchase
    must pick up the run containing its event time, the open interval
    must catch late events, and a pre-history event (before the first
    valid_from) must NOT match — and the whole thing runs stateless
    (append mode, no watermark)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_scd2_enrich,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = lambda x: base + dt.timedelta(minutes=x)  # noqa: E731
    dim = spark.createDataFrame(
        [
            (1, "bronze", m(0), m(60)),
            (1, "gold", m(60), None),
            (2, "trial", m(30), None),
        ],
        "user_id long, state string, valid_from timestamp_ntz, valid_to timestamp_ntz",
    )
    rows = [
        (10, m(5), 1, "purchase", 1.0, ""),    # bronze (first run)
        (11, m(60), 1, "purchase", 2.0, ""),   # boundary: half-open -> gold
        (12, m(500), 1, "purchase", 3.0, ""),  # open current interval
        (13, m(10), 2, "purchase", 4.0, ""),   # PRE-history: no dim row
        (14, m(31), 2, "purchase", 5.0, ""),   # trial
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    stage = str(tmp_path / "stage")
    S.stage_event_batches(
        [df.filter(F.col("ts") <= m(60)), df.filter(F.col("ts") > m(60))], stage
    )
    stream = read_events_stream(spark, stage, max_files=1)
    sink = run_to_memory(
        stream_scd2_enrich(stream, dim), "st_scd2_enrich_test", mode="append"
    )
    got = {r.event_id: (r.state_asof, r.state_since) for r in sink.collect()}
    assert got == {
        10: ("bronze", m(0)),
        11: ("gold", m(60)),
        12: ("gold", m(60)),
        14: ("trial", m(30)),
    }


def test_streaming_last_touch_cross_batch_carry(spark, tmp_path):
    """Carried state attributes across batch boundaries: user 1's
    batch-1 purchase credits its batch-0 view; user 2's purchase has no
    prior view anywhere (NULL, final); user 3's purchase at the SAME
    timestamp as a view with a SMALLER id credits it (strict (ts, id)
    precedence); a later view then a second purchase re-attributes to
    the newer view."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_last_touch,
    )

    base = dt.datetime(2024, 1, 1)
    m = lambda x: base + dt.timedelta(minutes=x)  # noqa: E731
    rows = [
        # batch 0
        (1, m(0), 1, "view", 0.0, ""),
        (2, m(1), 2, "click", 0.0, ""),
        (3, m(2), 3, "view", 0.0, ""),
        (4, m(2), 3, "purchase", 0.0, ""),  # same ts as id 3: view id<4 wins
        # batch 1
        (5, m(40), 1, "purchase", 0.0, ""),  # credits view 1 via carried state
        (6, m(41), 2, "purchase", 0.0, ""),  # never any view: NULL
        (7, m(42), 1, "view", 0.0, ""),
        (8, m(43), 1, "purchase", 0.0, ""),  # credits the NEWER view 7
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    stage = str(tmp_path / "stage")
    S.stage_event_batches(
        [df.filter(F.col("ts") <= m(30)), df.filter(F.col("ts") > m(30))], stage
    )
    stream = read_events_stream(spark, stage, max_files=1)
    out = run_to_memory(streaming_last_touch(stream), "lt_test", mode="append")
    got = {
        r.purchase_id: (r.attributed_view_id, r.gap_us) for r in out.collect()
    }
    assert got == {
        4: (3, 0),
        5: (1, 40 * 60_000_000),
        6: (None, None),
        8: (7, 60_000_000),
    }


def test_streaming_last_touch_rejects_batch_input(spark):
    import pytest as _pt

    from duckdb_graphar_spark.streaming.ops import streaming_last_touch

    df = spark.createDataFrame(
        [], "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    with _pt.raises(ValueError, match="streaming"):
        streaming_last_touch(df)


def test_streaming_clamped_balance_cross_batch(spark, tmp_path):
    """The carried balance composes across batches: user 1 ends batch 0
    clamped at 0 and batch 1 must start from 0, not the unclamped
    negative; user 2's balance survives the boundary unchanged."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_clamped_balance,
    )

    base = dt.datetime(2024, 1, 1)
    m = lambda x: base + dt.timedelta(minutes=x)  # noqa: E731
    rows = [
        # batch 0: user 1 goes 10 -> clamp(10-25)=0; user 2 -> 7
        (1, m(0), 1, "x", 10, ""),
        (2, m(1), 1, "x", -25, ""),
        (3, m(2), 2, "x", 7, ""),
        # batch 1: user 1 from 0 (not -15); user 2 from 7
        (4, m(40), 1, "x", 5, ""),
        (5, m(41), 2, "x", -3, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, delta long, props string",
    )
    stage = str(tmp_path / "stage")
    S.stage_event_batches(
        [df.filter(F.col("ts") <= m(30)), df.filter(F.col("ts") > m(30))], stage
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("delta", T.LongType()),
            T.StructField("props", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        # watermarks demand TIMESTAMP (LTZ) — same naive-UTC conversion
        # read_events_stream applies
        .withColumn(
            "ts",
            F.expr(
                "timestamp_micros(timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
            ),
        )
    )
    out = run_to_memory(
        streaming_clamped_balance(stream), "cb_test", mode="append"
    )
    got = {r.event_id: r.balance for r in out.collect()}
    assert got == {1: 10, 2: 0, 3: 7, 4: 5, 5: 4}


def test_streaming_clamped_balance_rejects_batch_input(spark):
    import pytest as _pt

    from duckdb_graphar_spark.streaming.ops import streaming_clamped_balance

    df = spark.createDataFrame(
        [], "event_id long, ts timestamp_ntz, user_id long, delta long"
    )
    with _pt.raises(ValueError, match="streaming"):
        streaming_clamped_balance(df)


def test_streaming_running_distinct_cross_batch_set(spark, tmp_path):
    """The carried seen-set is load-bearing: a type first seen in batch
    0 must not re-count in batch 1; a genuinely new type must."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_running_distinct,
    )

    base = dt.datetime(2024, 1, 1)
    m = lambda x: base + dt.timedelta(minutes=x)  # noqa: E731
    rows = [
        (1, m(0), 1, "view", 0.0, ""),
        (2, m(1), 1, "click", 0.0, ""),
        (3, m(2), 1, "view", 0.0, ""),
        (7, m(3), 1, None, 0.0, ""),         # NULL is its own value: 3
        (8, m(4), 3, None, 0.0, ""),         # all-NULL user, batch 0: 1
        # batch 1
        (4, m(40), 1, "view", 0.0, ""),      # repeat: stays 3
        (5, m(41), 1, "purchase", 0.0, ""),  # new: 4
        (6, m(42), 2, "view", 0.0, ""),      # new user in batch 1: 1
        (9, m(43), 1, None, 0.0, ""),        # NULL repeat across batch: 4
        (10, m(44), 3, None, 0.0, ""),       # all-NULL user, batch 1: 1
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    stage = str(tmp_path / "stage")
    S.stage_event_batches(
        [df.filter(F.col("ts") <= m(30)), df.filter(F.col("ts") > m(30))], stage
    )
    stream = read_events_stream(spark, stage, max_files=1)
    out = run_to_memory(
        streaming_running_distinct(stream), "rd_test", mode="append"
    )
    got = {r.event_id: r.n_distinct for r in out.collect()}
    assert got == {
        1: 1, 2: 2, 3: 2, 7: 3, 8: 1,
        4: 3, 5: 4, 6: 1, 9: 4, 10: 1,
    }


def test_streaming_twap_cross_batch_interval(spark, tmp_path):
    """The interval SPANNING the batch boundary is load-bearing: the
    carried (last_us, last_v) must close it in the next batch, and the
    running (n, total, numerator-string) must extend exactly."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_twap,
    )

    base = dt.datetime(2024, 1, 1)
    m = lambda x: base + dt.timedelta(minutes=x)  # noqa: E731
    rows = [
        (1, m(0), 1, "view", 10.0, ""),
        (2, m(1), 1, "view", 20.0, ""),   # closes (0->1min)@10: twap 10
        # batch 1
        (3, m(41), 1, "view", 40.0, ""),  # closes (1->41min)@20 across the
                                          # boundary: twap (10*1+20*40)/41
        (4, m(42), 2, "view", 5.0, ""),   # user 2's first event: no row
        (5, m(43), 2, "view", 7.0, ""),   # closes (42->43)@5: twap 5
    ] + [
        # user 3: leading ZERO-duration interval (equal ts, id tiebreak)
        # -> total 0, twap NULL (the engines' /0), never a crash
        (6, m(0), 3, "view", 10.0, ""),
        (7, m(0), 3, "view", 20.0, ""),   # closes (0->0)@10: twap NULL
        (8, m(41), 3, "view", 30.0, ""),  # closes (0->41)@20: twap 20
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    stage = str(tmp_path / "stage")
    S.stage_event_batches(
        [df.filter(F.col("ts") <= m(30)), df.filter(F.col("ts") > m(30))], stage
    )
    stream = read_events_stream(spark, stage, max_files=1)
    out = run_to_memory(streaming_twap(stream), "twap_test", mode="append")
    got = {
        r.event_id: (
            r.n_intervals,
            r.total_us,
            None if r.twap_raw is None else round(r.twap_raw, 6),
        )
        for r in out.collect()
    }
    assert got == {
        2: (1, 60_000_000, 10.0),
        3: (2, 2_460_000_000, round((10 * 1 + 20 * 40) / 41, 6)),
        5: (1, 60_000_000, 5.0),
        7: (1, 0, None),
        8: (2, 2_460_000_000, 20.0),
    }


def test_streaming_twap_rejects_batch_input(spark):
    import pytest as _pt

    from duckdb_graphar_spark.streaming.ops import streaming_twap

    df = spark.createDataFrame(
        [], "event_id long, ts timestamp_ntz, user_id long, value double"
    )
    with _pt.raises(ValueError, match="streaming"):
        streaming_twap(df)


def test_streaming_running_distinct_rejects_batch_input(spark):
    import pytest as _pt

    from duckdb_graphar_spark.streaming.ops import streaming_running_distinct

    df = spark.createDataFrame(
        [], "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    with _pt.raises(ValueError, match="streaming"):
        streaming_running_distinct(df)


def test_streaming_time_decay_cross_batch_pending(spark, tmp_path):
    """Carried pending views settle at a later batch's purchase with
    the right half-life weights; views after the last purchase stay
    unattributed; a second purchase only gets views since the first."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_time_decay_attribution,
    )

    base = dt.datetime(2024, 1, 10)
    d = lambda days, m=0: base + dt.timedelta(days=days, minutes=m)  # noqa: E731
    rows = [
        # batch 0: two views, 3 days and 1 day before the purchase
        (1, d(0), 1, "view", 0.0, ""),
        (2, d(2), 1, "view", 0.0, ""),
        # batch 1: the purchase at day 3, a later view, second purchase
        (3, d(3), 1, "purchase", 0.0, ""),
        (4, d(3, 30), 1, "view", 0.0, ""),
        (5, d(4), 1, "purchase", 0.0, ""),
        (6, d(4, 30), 1, "view", 0.0, ""),  # pending forever: no row
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    stage = str(tmp_path / "stage")
    S.stage_event_batches(
        [df.filter(F.col("ts") < d(3)), df.filter(F.col("ts") >= d(3))], stage
    )
    stream = read_events_stream(spark, stage, max_files=1)
    out = run_to_memory(
        streaming_time_decay_attribution(stream), "td_test", mode="append"
    )
    got = {
        (r.purchase_id, r.view_id): (r.halflives, r.weight, r.credit)
        for r in out.collect()
    }
    w3, w1, w0 = 1 << 47, 1 << 49, 1 << 50
    tot1 = w3 + w1
    assert got == {
        (3, 1): (3, w3, w3 / tot1),
        (3, 2): (1, w1, w1 / tot1),
        (5, 4): (0, w0, 1.0),
    }


def test_streaming_time_decay_guards(spark):
    import pytest as _pt

    from duckdb_graphar_spark.streaming.ops import (
        streaming_time_decay_attribution,
    )

    df = spark.createDataFrame(
        [], "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    with _pt.raises(ValueError, match="streaming"):
        streaming_time_decay_attribution(df)


def test_streaming_kll_cross_batch_equals_batch_sketch(spark, tmp_path):
    """The carried (survivors, threshold) state is load-bearing: the
    final per-group emission across two micro-batches must equal the
    BATCH sketch over the union of rows — merge-order independence is
    what upgrades st31's oracle to a full value replay."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_graphar_spark.operators.sketch import kll_quantile_rollup
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_kll_quantile,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + dt.timedelta(minutes=i),
            i % 3,
            "view" if i % 2 else "click",
            float((i * 37) % 101),
            "",
        )
        for i in range(400)
    ] + [(9000, base, 1, "view", None, "")]  # NULL value: excluded
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    stage = str(tmp_path / "stage")
    split = base + dt.timedelta(minutes=200)
    S.stage_event_batches(
        [df.filter(F.col("ts") <= split), df.filter(F.col("ts") > split)], stage
    )
    stream = read_events_stream(spark, stage, max_files=1)
    out = run_to_memory(
        streaming_kll_quantile(stream, k=32), "kll_test", mode="update"
    )
    rows_out = out.collect()
    got = {}
    for r in rows_out:  # final emission per group = max n_seen
        if r.g not in got or r.n_seen > got[r.g][0]:
            got[r.g] = (r.n_seen, r.t_lvl, r.m_kept, r.q25_est, r.q50_est, r.q75_est)
    want = {
        r.event_type: (r.n_exact, r.t_level, r.m_kept, r.q25_est, r.q50_est, r.q75_est)
        for r in kll_quantile_rollup(df, "event_type", "value", "event_id", k=32).collect()
    }
    assert got == want


def test_streaming_kll_rejects_batch_input(spark):
    import pytest as _pytest

    from duckdb_graphar_spark.streaming.ops import streaming_kll_quantile

    df = spark.createDataFrame([(1,)], "event_id long")
    with _pytest.raises(ValueError, match="streaming"):
        streaming_kll_quantile(df)


@pytest.fixture
def state_partitions(spark):
    """Look up, by query name, the shuffle-partition counts that a drive
    gave the query's state operators, read from the query's progress
    events.  The session count is pinned to the core count meanwhile, so
    the drive's choice is the only thing that can lower it."""
    import threading
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    seen: dict[str, set[int]] = {}
    arrived = threading.Condition()

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with arrived:
                seen.setdefault(p.name, set()).update(
                    op.numShufflePartitions for op in p.stateOperators
                )
                arrived.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    def lookup(name: str) -> set[int]:
        # progress events reach the listener asynchronously
        deadline = time.time() + 60
        with arrived:
            while name not in seen and time.time() < deadline:
                arrived.wait(1)
        return seen.get(name)

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    listener = Progress()
    spark.streams.addListener(listener)
    yield lookup
    spark.streams.removeListener(listener)
    spark.conf.set(key, prev)


def test_drive_sizes_a_small_jvm_stream_by_its_source(spark, sf_dir, state_partitions):
    """A JVM-state stream over one small file gets the size-derived
    count, clamped to [2, cores]: ~64 MB of source per partition."""
    cores = spark.sparkContext.defaultParallelism
    stream = S.read_events_stream(spark, f"{sf_dir}/events.parquet")
    S.run_to_memory(S.tumbling_window_agg(stream, watermark="100 days"), "size_jvm")
    assert state_partitions("size_jvm") == {min(2, cores)}


def test_drive_keeps_cores_for_python_state(spark, sf_dir, state_partitions):
    cores = spark.sparkContext.defaultParallelism
    stream = S.read_events_stream(spark, f"{sf_dir}/events.parquet")
    S.run_to_memory(
        S.stateful_user_totals(stream, watermark="365 days"), "size_py_state", mode="update"
    )
    assert state_partitions("size_py_state") == {cores}


def test_drive_keeps_cores_for_a_scalar_pandas_udf(spark, sf_dir, state_partitions):
    """A scalar pandas UDF shows in the analyzed plan only under its own
    name; the drive still sees the Arrow evaluation it plans into and
    keeps one partition per Python worker."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def doubled(v):
        return v * 2

    cores = spark.sparkContext.defaultParallelism
    stream = S.read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = S.tumbling_window_agg(stream.withColumn("value", doubled("value")), watermark="100 days")
    S.run_to_memory(agg, "size_pandas_udf")
    assert state_partitions("size_pandas_udf") == {cores}


def test_drive_of_a_non_file_stream_ignores_earlier_readers(spark, sf_dir, state_partitions):
    """A stream built but never driven leaves nothing behind: the next
    drive, of a source whose size the plan does not tell, keeps the
    core count."""
    from duckdb_graphar_spark.datasources import CounterStreamDataSource

    try:
        spark.dataSource.register(CounterStreamDataSource)
    except Exception:
        pass  # already registered in this session
    cores = spark.sparkContext.defaultParallelism
    S.read_events_stream(spark, f"{sf_dir}/events.parquet")
    counter = spark.readStream.format("counter_stream").load()
    S.run_to_memory(counter.groupBy((F.col("n") % 5).alias("k")).count(), "size_counter")
    assert state_partitions("size_counter") == {cores}
