"""Structured Streaming operators over the `events` table shape
(event_id, ts, user_id, event_type, value, props).

Each operator is a plain DataFrame→DataFrame transformation that works
on both a `readStream` source and a batch DataFrame — the watermark is
a no-op in batch mode, which is exactly what lets the DuckDB oracle
verify the windowed aggregations (FIXTURES.md §B2, SURVEY §2.E).
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F, types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        # stored as TIMESTAMP(NANOS, isAdjustedToUTC=false): Spark 4 reads
        # it natively as TIMESTAMP_NTZ truncated to µs.  NTZ end-to-end
        # matches DuckDB's naive TIMESTAMP with no session-timezone risk.
        # (A LongType schema here would trigger an implicit nanos→µs value
        # conversion — surprising and version-dependent; don't.)
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def _path_bytes(path: str, glob_base: str | None) -> int:
    try:
        if glob_base is not None:
            return os.path.getsize(os.path.join(path, glob_base))
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def read_events_stream(spark: SparkSession, path: str, *, max_files: int = 4) -> DataFrame:
    """File-based streaming source over the events parquet (one file =
    one micro-batch slice; real deployments swap in kafka).

    ``path`` is a directory of event files or one ``.parquet`` file.
    The source's ``path`` and ``pathGlobFilter`` options stay in the
    stream's plan, which is where :func:`_drive_stream` reads the source
    size from when it sizes the drive; building a stream records
    nothing else."""
    reader = spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", max_files)
    if path.endswith(".parquet") and os.path.isfile(path):
        # streaming file sources require a directory; narrow with a glob
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = reader.parquet(path)
    # Watermarks demand TIMESTAMP (LTZ), so convert the naive-UTC wall
    # clock to the matching instant via epoch-µs arithmetic — both steps
    # are session-timezone-independent, unlike CAST(ntz AS timestamp).
    return raw.withColumn(
        "ts",
        F.expr(
            "timestamp_micros(timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
        ),
    )


def stage_event_batches(frames: Iterable[DataFrame], stage: str) -> None:
    """Write each of ``frames`` as ONE parquet file
    ``stage/events_{i:03d}.parquet``, modification times 30 s apart in
    list order, so a ``read_events_stream(spark, stage, max_files=1)``
    replays them as one micro-batch each, in order.  The staging for
    streams whose per-key state must span batches (a single-file source
    is one batch and never reaches the state-merge path).  Creates
    ``stage`` if it does not exist."""
    os.makedirs(stage, exist_ok=True)
    base = time.time() - 120
    for i, frame in enumerate(frames):
        tmp = os.path.join(stage, f"__b{i}")
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        npath = os.path.join(stage, f"events_{i:03d}.parquet")
        os.replace(os.path.join(tmp, part), npath)
        shutil.rmtree(tmp)
        os.utime(npath, (base + 30 * i, base + 30 * i))


def tumbling_window_agg(
    events: DataFrame, *, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Per-(window, event_type) count + sum(value) with late-data cutoff."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy(F.window("ts", window).alias("w"), "event_type")
        # decimal-sum → double → round: order-independent across partial
        # aggregation (and micro-batch) orders — see session_window_agg
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(26,8)")).cast("double"), 6).alias(
                "sum_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_window_agg(
    events: DataFrame,
    *,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Overlapping windows: each event lands in window/slide buckets."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def session_window_agg(
    events: DataFrame, *, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Per-user session windows (gap-based)."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal-sum → double → round: order-independent, so the
            # result is bit-identical across partial-agg orders (and
            # matches the DuckDB oracle)
            F.round(F.sum(F.col("value").cast("decimal(26,8)")).cast("double"), 6).alias(
                "sum_value"
            ),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    *,
    on: str = "user_id",
    dim_key: str = "c_custkey",
    group_col: str = "c_mktsegment",
) -> DataFrame:
    """Stream-static join + aggregate: each micro-batch joins against the
    static dimension (Spark re-broadcasts the dim per batch; at scale
    the dim side should be broadcast-sized or pre-bucketed), then counts
    and sums per dim attribute.  Works identically on a batch DataFrame
    (the oracle path)."""
    joined = events.join(
        F.broadcast(dim.select(F.col(dim_key).alias(on), group_col)), on
    )
    return joined.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(26,8)")).cast("double"), 4
        ).alias("sum_value"),
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "user_id",
    within: str = "10 minutes",
    watermark: str = "30 minutes",
    left_type: str = "view",
    right_type: str = "purchase",
) -> DataFrame:
    """Stream-stream inner join with an event-time range condition
    (SURVEY §2.E): pair each ``left_type`` event with the same user's
    ``right_type`` events that occur within ``within`` afterwards.

    Both sides carry watermarks and the join condition bounds right.ts
    to [left.ts, left.ts + within], which is exactly what lets Spark
    evict join state (without the time bound the state store would grow
    unboundedly).  In batch mode the same join runs without watermarks —
    the oracle path; with the fixture's single-file source the stream
    sees one micro-batch, so append-mode output equals the batch join.
    """
    a = left.filter(F.col("event_type") == left_type).select(
        F.col(on),
        F.col("ts").alias("a_ts"),
        F.col("event_id").alias("a_id"),
    )
    b = right.filter(F.col("event_type") == right_type).select(
        F.col(on).alias("__on_b"),
        F.col("ts").alias("b_ts"),
        F.col("event_id").alias("b_id"),
    )
    if left.isStreaming:
        a = a.withWatermark("a_ts", watermark)
    if right.isStreaming:
        b = b.withWatermark("b_ts", watermark)
    cond = (
        (a[on] == b["__on_b"])
        & (b["b_ts"] >= a["a_ts"])
        & (b["b_ts"] <= a["a_ts"] + F.expr(f"INTERVAL {within}"))
    )
    return a.join(b, cond, "inner").select(
        F.col(on), "a_id", "b_id", "a_ts", "b_ts"
    )


def stateful_dedup(events: DataFrame, *, keys: list[str] | None = None, watermark: str = "10 minutes") -> DataFrame:
    """Drop duplicate events within the watermark horizon — bounded state
    (vs. unbounded `dropDuplicates` state in an infinite stream)."""
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def stateful_user_totals(
    events: DataFrame, *, watermark: str = "10 minutes", timeout_minutes: int | None = None
) -> DataFrame:
    """Arbitrary-state example (§2.E `applyInPandasWithState`): per-user
    running event count + value total maintained in explicit state,
    emitted once per micro-batch per updated user.

    State is one (count, total) pair per user — O(active users), evicted
    by processing-time timeout; the pattern for custom accumulators that
    windowed aggs can't express.  In batch mode falls back to the
    equivalent groupBy (same output, no state)."""
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("total_value", T.DoubleType(), True),
        ]
    )
    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(26,8)")).cast("double"), 6).alias(
                "total_value"
            ),
        )

    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType(), False),
            T.StructField("total", T.DoubleType(), False),
        ]
    )

    timeout_mode = "ProcessingTimeTimeout" if timeout_minutes else "NoTimeout"

    def update(key, pdfs, state):
        import pandas as pd

        # GroupState.get is a PROPERTY (raises if absent), not a method —
        # a latent break for any group spanning 2+ micro-batches, which
        # the single-file st05 fixture never exercised (st16's 3-batch
        # staging found it)
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(update, out_schema, state_schema, "update", timeout_mode)
    )


def chained_window_agg(
    events: DataFrame,
    *,
    inner: str = "5 minutes",
    outer: str = "1 hour",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Two-level windowed rollup — tumbling ``inner`` windows per
    event_type, re-aggregated into ``outer`` windows via
    ``window_time()`` (Spark 3.4+ chained stateful aggregations).  The
    hypertable-rollup shape: the raw stream reduces once at fine grain,
    and the coarse grain aggregates the ALREADY-REDUCED rows (state and
    shuffle at the second level are per-inner-window, not per-event).

    Streaming requires APPEND output mode (multiple stateful operators),
    so only outer windows whose end ≤ the final watermark emit — with
    the default 0-second delay that is every window except the one
    containing the stream's max timestamp.  Inner sums stay unrounded
    DECIMAL until the outer level so the rollup is exact and
    order-independent; n_inner_windows counts the non-empty fine
    windows inside each coarse one.

    Works identically on a batch DataFrame (watermark no-op), which is
    what the batch twin / SQL oracle verifies.
    """
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    inner_agg = e.groupBy(F.window("ts", inner).alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(26,8)")).alias("__sv"),
    )
    outer_src = inner_agg.select(
        F.window_time("w").alias("wt"), "event_type", "n", "__sv"
    )
    return (
        outer_src.groupBy(F.window("wt", outer).alias("w2"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.count(F.lit(1)).alias("n_inner_windows"),
            F.round(F.sum("__sv").cast("double"), 6).alias("sum_value"),
        )
        .select(
            F.col("w2.start").alias("window_start"),
            F.col("w2.end").alias("window_end"),
            "event_type",
            "n",
            "n_inner_windows",
            "sum_value",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, *, mode: str | None = None) -> DataFrame:
    """Drive a finite stream to completion into the memory sink ``name``
    and return the sink's table.  ``mode`` defaults to complete for a
    plan with an aggregate and append otherwise.

    The stream's own plan decides the shuffle-partition count
    (:func:`_drive_stream`): a JVM-state replay of file sources gets one
    partition per ~64 MB of source, at least 2, since every partition is
    a state store committed each micro-batch; a stream that runs Python
    keeps one partition per core, since there the partitions are the
    Python workers."""
    _drive_stream(stream_df, lambda w: w.format("memory").queryName(name), mode=mode)
    return stream_df.sparkSession.table(name)


# Plan nodes whose per-row or per-key work runs in Python workers.
_PYTHON_NODES = (
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
)


def _file_source_bytes(plan) -> int | None:
    """Bytes under the streaming file-source leaves of an analyzed plan
    (each leaf's ``path`` and ``pathGlobFilter`` options, summed by
    :func:`_path_bytes`), or None when a streaming leaf is not a file
    source.  Static leaves (the dimension of a stream-static join) do
    not count."""
    total = 0
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if not leaf.isStreaming():
            continue
        if leaf.nodeName() != "StreamingRelation":
            return None
        opts = leaf.dataSource().options()
        path, glob = opts.get("path"), opts.get("pathGlobFilter")
        if path.isEmpty():
            return None
        total += _path_bytes(path.get(), glob.get() if glob.isDefined() else None)
    return total


def _drive_stream(
    stream_df: DataFrame,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
    *,
    mode: str | None = None,
) -> StreamingQuery:
    """Start ``sink(stream_df.writeStream)``, process all available input,
    stop, and return the stopped query (its ``lastProgress`` stays
    readable).  The stream's analyzed plan, read once, decides both the
    output mode (``mode`` or, by default, complete when the plan
    aggregates, else append) and ``spark.sql.shuffle.partitions``,
    scoped to the drive and restored in the finally.

    Every stateful operator opens one state-store instance per shuffle
    partition per micro-batch, and a replay of a small source is bound
    by those commits (st13: 8.0 s at 4 partitions against 34.0 s at 32
    on a 2 MB source).  So a stream whose streaming leaves are all file
    sources gets ~64 MB of source per partition, clamped to
    [2, defaultParallelism]: a fixture replay opens a handful of
    stores, a large stream still fills the cluster.  Two cases keep the
    core count:

    - a stream that crosses into Python.  Its Python workers' parallelism
      IS the partition count, so sizing it by bytes serializes the
      Python work onto 2 workers (st19: 11.7 s became 17.7 s).  The
      check applies Spark's ``ExtractPythonUDFs`` rule to the analyzed
      plan first, which turns scalar Python and pandas UDFs into the
      ``BatchEvalPython``/``ArrowEvalPython`` nodes they run as.
    - a stream with a non-file streaming leaf (rate, memory, a Python
      data source), whose size the plan does not tell.

    The count never rises above the session's own setting."""
    spark = stream_df.sparkSession
    plan = stream_df._jdf.queryExecution().analyzed()
    extract = spark._jvm.org.apache.spark.sql.execution.python.ExtractPythonUDFs
    text = extract.apply(plan).toString()
    cores = spark.sparkContext.defaultParallelism
    src_bytes = None if any(m in text for m in _PYTHON_NODES) else _file_source_bytes(plan)
    target = max(2, min(cores, -(-src_bytes // (64 << 20)))) if src_bytes else cores
    mode = mode or ("complete" if "Aggregate" in text else "append")

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    scoped = prev is None or int(prev) > target
    if scoped:
        spark.conf.set(key, str(target))
    try:
        q = sink(stream_df.writeStream.outputMode(mode)).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if scoped:
            if prev is not None:
                spark.conf.set(key, prev)
            else:
                spark.conf.unset(key)
    return q


def stateful_user_totals_tws(
    events: DataFrame, *, watermark: str = "10 minutes"
) -> DataFrame:
    """Same per-user running totals as :func:`stateful_user_totals`, on the
    Spark 4 `transformWithStateInPandas` API (§2.E arbitrary state):
    typed ValueState in a StatefulProcessor instead of the untyped
    GroupState tuple — the forward-looking API for custom stateful
    operators (per-key timers, multiple state variables, TTL).
    Requires the RocksDB state store provider (set by the caller or
    session factory) and the `protobuf` package (the TWS state-server
    protocol is protobuf-encoded; raises ImportError with guidance when
    absent).  Batch input falls back to the equivalent groupBy."""
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("n_events", T.LongType(), True),
            T.StructField("total_value", T.DoubleType(), True),
        ]
    )
    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(26,8)")).cast("double"), 6).alias(
                "total_value"
            ),
        )

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas requires the `protobuf` package "
            "(pyspark's TWS state protocol); use stateful_user_totals "
            "(applyInPandasWithState) where protobuf is unavailable"
        ) from e

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType(), True),
            T.StructField("total", T.DoubleType(), True),
        ]
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            prev = self._state.get() if self._state.exists() else (0, 0.0)
            n, total = int(prev[0]), float(prev[1])
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def trending_topk(sink_windows: DataFrame, *, k: int = 3) -> DataFrame:
    """Serving-side ranking for a streaming trending feed: given the
    FINALIZED tumbling (window, event_type) counts an append-mode
    stream has emitted (`tumbling_window_agg` → sink), rank event types
    within each window and keep the top k → (window_start, event_type,
    n, rank).

    Ranking is not a streaming-supported operation (no window functions
    over a streaming aggregate), and it shouldn't be: append mode means
    a window's counts are immutable once emitted, so the rank is a
    plain batch window over the bounded sink relation — the actual
    architecture of every trending dashboard (engine maintains counts,
    the serving query ranks finalized windows).  Ties break by
    event_type ascending.  Scale: partitionBy(window) — parallel, each
    window sees its handful of event types."""
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        sink_windows.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("window_start", "event_type", "n", "rank")
    )


def stream_static_enrich_agg(
    stream: DataFrame,
    dim: DataFrame,
    *,
    stream_key: Column,
    dim_key: str,
    group_col: str,
    window: str = "1 hour",
    watermark: str = "365 days",
) -> DataFrame:
    """Stream-static dimension enrichment (SURVEY §2.E): join each
    micro-batch against a STATIC dimension table, then tumbling-window
    rollup by a dimension attribute → (window_start, window_end,
    <group_col>, n, sum_value).

    This is the third join shape next to stream-stream (q: st07) and
    batch joins: the static side needs no watermark and no state store
    — Spark re-plans it per micro-batch as an ordinary broadcast hash
    join, so dimension updates between batches are picked up and NOTHING
    about the dim ever enters streaming state.  The decimal-sum
    discipline makes the rollup order-independent across micro-batches
    (same as tumbling_window_agg).

    Scale shape: broadcast the dimension (dims are small by definition;
    a corpus-sized "dimension" belongs in a stream-stream join), stream
    side stays partition-local until the windowed groupBy's single
    shuffle."""
    s = stream.withWatermark("ts", watermark) if stream.isStreaming else stream
    j = s.withColumn("__k", stream_key).join(
        F.broadcast(dim), F.col("__k") == F.col(dim_key)
    )
    return (
        j.groupBy(F.window("ts", window).alias("w"), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(26,8)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            group_col,
            "n",
            "sum_value",
        )
    )


def stream_scd2_enrich(
    stream: DataFrame,
    dim: DataFrame,
    *,
    key: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "state",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "inner",
) -> DataFrame:
    """POINT-IN-TIME SCD2 enrichment of a stream (§2.E): attach to each
    event the dimension row whose half-open validity interval
    ``[valid_from, valid_to)`` contains the event time — the warehouse
    "attribute as-of the event" lookup (q76's batch shape), live.  A
    NULL ``valid_to`` is the current state (open interval).

    Stream-static INNER joins carry no condition restrictions and use
    NO state store: Spark re-plans the dimension as an ordinary
    broadcast hash join per micro-batch (equi-key on ``key``; the
    containment predicate filters post-probe), so dimension swaps
    between batches are picked up for free, output is append-only per
    event, and no watermark is needed.

    Scale shape: the dim is one row per (entity, state run) —
    broadcast-sized for real dimensions, and the probe side never
    shuffles; a corpus-sized "dimension" belongs in a stream-stream
    interval join instead.  Intervals partition each entity's timeline,
    so every in-range event matches exactly one row (no fan-out).

    Returns: the stream's columns plus (state_asof, state_since).
    With the default ``how="inner"``, events NOT covered by any
    interval — a timestamp before the entity's first ``valid_from``,
    or a key with no dimension row at all (the late-backfill shape) —
    are silently DROPPED from the output.  Pass ``how="left"`` to keep
    them with NULL ``state_asof``/``state_since`` instead; stream-
    static LEFT joins are equally stateless (per-micro-batch broadcast
    hash join, stream side preserved), so the mode costs nothing.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    d = dim.select(
        F.col(key).alias("__dk"),
        F.col(state_col).alias("state_asof"),
        F.col(valid_from).alias("state_since"),
        F.col(valid_to).alias("__vt"),
    )
    cond = (
        (stream[key] == F.col("__dk"))
        & (stream[ts_col] >= F.col("state_since"))
        & (F.col("__vt").isNull() | (stream[ts_col] < F.col("__vt")))
    )
    return stream.join(F.broadcast(d), cond, how).drop("__dk", "__vt")


def windowed_hll_distinct(
    stream: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "365 days",
    key_col: str = "event_type",
    id_col: str = "user_id",
) -> DataFrame:
    """Streaming approximate distinct: per (tumbling window, key) an
    HLL sketch of ``id_col`` — the streaming form of the q63 mergeable-
    sketch rollup, and the only way to count distincts in a stream
    without unbounded state (exact distinct needs every id in the state
    store; the sketch is O(kb) per group regardless of cardinality).
    Returns (window_start, window_end, key, approx_distinct)."""
    s = stream.withWatermark("ts", watermark) if stream.isStreaming else stream
    return (
        s.groupBy(F.window("ts", window).alias("w"), F.col(key_col))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg(id_col)).alias("approx_distinct"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "approx_distinct",
        )
    )


def stream_stream_left_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "user_id",
    within: str = "10 minutes",
    watermark: str = "30 minutes",
    left_type: str = "view",
    right_type: str = "purchase",
) -> DataFrame:
    """Stream-stream LEFT OUTER join with an event-time range condition
    (SURVEY §2.E, the join shape :func:`stream_stream_join` can't
    show): every ``left_type`` event pairs with the same user's
    ``right_type`` events within ``within`` afterwards — and left rows
    with NO match are still emitted (null right columns) once the
    watermark proves no match can arrive.

    The semantics outer joins add over inner: null-padded results are
    NOT produced when the row is first seen — they materialize during
    state EVICTION, when the global watermark passes
    left.ts + within.  Spark's watermark for batch k is computed from
    data seen through batch k-1, so the final unmatched rows need the
    watermark to be advanced past them by LATER input (the st13 driver
    entry appends two far-future nudge events in separate micro-batches
    exactly for this).  In batch mode the same call degrades to a plain
    left join — the oracle path."""
    a = left.filter(F.col("event_type") == left_type).select(
        F.col(on),
        F.col("ts").alias("a_ts"),
        F.col("event_id").alias("a_id"),
    )
    b = right.filter(F.col("event_type") == right_type).select(
        F.col(on).alias("__on_b"),
        F.col("ts").alias("b_ts"),
        F.col("event_id").alias("b_id"),
    )
    if left.isStreaming:
        a = a.withWatermark("a_ts", watermark)
    if right.isStreaming:
        b = b.withWatermark("b_ts", watermark)
    cond = (
        (a[on] == b["__on_b"])
        & (b["b_ts"] >= a["a_ts"])
        & (b["b_ts"] <= a["a_ts"] + F.expr(f"INTERVAL {within}"))
    )
    return a.join(b, cond, "leftOuter").select(
        F.col(on), "a_id", "b_id", "a_ts", "b_ts"
    )


def stream_stream_full_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "user_id",
    within: str = "10 minutes",
    watermark: str = "30 minutes",
    left_type: str = "view",
    right_type: str = "purchase",
) -> DataFrame:
    """Stream-stream FULL OUTER join with an event-time range condition
    — the last stream-join shape (inner st07, left-outer st13, full
    here): unmatched rows from BOTH sides materialize as null-padded
    results at state eviction.  The two sides have different eviction
    horizons, both derived by Spark from the range condition: a left
    row is provably unmatched once the watermark passes a_ts + within
    (its match window closed), a right row once the watermark passes
    b_ts (no future left row can reach back to it, since the condition
    requires b_ts ≥ a_ts).  The output key is COALESCE'd across sides
    so every row carries it.  In batch mode the same call degrades to
    a plain full join — the oracle path."""
    a = left.filter(F.col("event_type") == left_type).select(
        F.col(on).alias("__on_a"),
        F.col("ts").alias("a_ts"),
        F.col("event_id").alias("a_id"),
    )
    b = right.filter(F.col("event_type") == right_type).select(
        F.col(on).alias("__on_b"),
        F.col("ts").alias("b_ts"),
        F.col("event_id").alias("b_id"),
    )
    if left.isStreaming:
        a = a.withWatermark("a_ts", watermark)
    if right.isStreaming:
        b = b.withWatermark("b_ts", watermark)
    cond = (
        (a["__on_a"] == b["__on_b"])
        & (b["b_ts"] >= a["a_ts"])
        & (b["b_ts"] <= a["a_ts"] + F.expr(f"INTERVAL {within}"))
    )
    return a.join(b, cond, "fullOuter").select(
        F.coalesce(F.col("__on_a"), F.col("__on_b")).alias(on),
        "a_id",
        "b_id",
        "a_ts",
        "b_ts",
    )


def stream_stream_semi_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "user_id",
    within: str = "10 minutes",
    watermark: str = "30 minutes",
    left_type: str = "view",
    right_type: str = "purchase",
) -> DataFrame:
    """Stream-stream LEFT SEMI join with an event-time range condition —
    the EXISTENCE shape completing the stream-join family (inner st07,
    left-outer st13, full-outer st15): each ``left_type`` event is
    emitted AT MOST ONCE, iff some same-user ``right_type`` event lands
    within ``within`` after it.  No right columns leak into the output
    (the filter-by-stream pattern: keep the views that converted,
    without paying for the match multiplicity an inner join would
    emit).

    Unlike the outer shapes, a semi row emits as soon as its FIRST
    match arrives — no watermark-eviction pass is needed for the
    positive results, so the entry needs no nudge staging; the
    watermark still bounds both sides' state (left rows past their
    match horizon are dropped unmatched-and-unemitted).  In batch mode
    the same call degrades to a plain left-semi join — the oracle
    path."""
    a = left.filter(F.col("event_type") == left_type).select(
        F.col(on),
        F.col("ts").alias("a_ts"),
        F.col("event_id").alias("a_id"),
    )
    b = right.filter(F.col("event_type") == right_type).select(
        F.col(on).alias("__on_b"),
        F.col("ts").alias("b_ts"),
        F.col("event_id").alias("b_id"),
    )
    if left.isStreaming:
        a = a.withWatermark("a_ts", watermark)
    if right.isStreaming:
        b = b.withWatermark("b_ts", watermark)
    cond = (
        (a[on] == b["__on_b"])
        & (b["b_ts"] >= a["a_ts"])
        & (b["b_ts"] <= a["a_ts"] + F.expr(f"INTERVAL {within}"))
    )
    return a.join(b, cond, "leftSemi").select(F.col(on), "a_id", "a_ts")


def streaming_ohlc(
    events: DataFrame, *, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming OHLC bars — the time-series downsample as a STATEFUL
    streaming aggregate: per (tumbling window, event_type) the state
    carries each partition's earliest/latest candidate (min_by/max_by
    over the (ts, event_id) struct combine incrementally, exactly like
    their batch partials) plus high/low/count.  O(groups) state, no
    per-event retention — the pattern for live tickers.  In batch mode
    the same call is the q72 shape on a window column."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.min_by(F.col("value"), ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by(F.col("value"), ordk).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def streaming_kmv_distinct(
    events: DataFrame,
    *,
    k: int = 64,
    seed: str = "kmv0",
    group_col: str = "event_type",
    value_col: str = "user_id",
    watermark: str = "365 days",
) -> DataFrame:
    """Streaming K-MINIMUM-VALUES distinct sketch — the stateful twin
    of the batch `operators/sketch.py:kmv_distinct_rollup` and the
    BIT-EXACT sibling of :func:`windowed_hll_distinct`: per-group state
    is the bottom-``k`` (hash, value) pairs, merged incrementally each
    micro-batch.  Because bottom-k of a union equals bottom-k of
    incremental bottom-k merges, the final state is INDEPENDENT of
    batch boundaries and arrival order — so a full value oracle exists
    (the batch sketch over the same rows), not just a tolerance band.

    The content-addressed hash u is computed JVM-SIDE before the
    stateful operator (same md5 integer arithmetic as the batch
    sketch); the Arrow-batched state update only sorts/truncates ≤
    k + batch rows per group.  Emits (group, n_seen, n_sk, kth_u) per
    updated group per batch — n_seen strictly increases, so the final
    sketch row per group is the max-n_seen one; estimate arithmetic
    ((k−1)/u_k) is left to the caller so rounding happens JVM-side.
    State is O(k) doubles+strings per group regardless of cardinality."""
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x1f", F.lit(seed), F.col(value_col).cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(float((1 << 52) + 1))
    hashed = events.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("string").alias("val"),
        u.alias("u"),
        *(["ts"] if "ts" in events.columns else []),
    )
    if not events.isStreaming:
        raise ValueError(
            "streaming_kmv_distinct needs a streaming DataFrame; use "
            "operators.sketch.kmv_distinct_rollup for batch"
        )

    out_schema = T.StructType(
        [
            T.StructField("g", T.StringType(), False),
            T.StructField("n_seen", T.LongType(), False),
            T.StructField("n_sk", T.LongType(), False),
            T.StructField("kth_u", T.DoubleType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("us", T.ArrayType(T.DoubleType()), False),
            T.StructField("vals", T.ArrayType(T.StringType()), False),
            T.StructField("n", T.LongType(), False),
        ]
    )

    def update(key, pdfs, state):
        import pandas as pd

        # GroupState.get is a PROPERTY (raises if absent), not a method
        us, vals, n = state.get if state.exists else ([], [], 0)
        d = dict(zip(vals, us))
        for pdf in pdfs:
            n += len(pdf)
            for val, uu in zip(pdf["val"], pdf["u"]):
                d[val] = float(uu)  # same val → same content-addressed u
        items = sorted(d.items(), key=lambda kv: (kv[1], kv[0]))[:k]
        state.update(
            ([uu for _, uu in items], [v for v, _ in items], n)
        )
        kth = items[-1][1] if len(items) == k else None
        yield pd.DataFrame(
            {
                "g": [key[0]],
                "n_seen": [n],
                "n_sk": [len(items)],
                "kth_u": [kth],
            }
        )

    return (
        hashed.withWatermark("ts", watermark)
        .groupBy("g")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )


def streaming_cms(
    events: DataFrame,
    *,
    depth: int = 3,
    width: int = 512,
    seed: str = "cms0",
    group_col: str = "event_type",
    value_col: str = "user_id",
    watermark: str = "365 days",
) -> DataFrame:
    """Streaming COUNT-MIN sketch — the stateful twin of the batch
    `operators/sketch.py:cms_point_estimates` and the frequency-axis
    sibling of :func:`streaming_kmv_distinct`: per-group state is the
    depth×width counter table, merged by ELEMENTWISE ADDITION each
    micro-batch — addition is commutative and associative, so the
    final counters are independent of batch boundaries and arrival
    order, which licenses a FULL value oracle (the batch sketch over
    the same rows).

    Bucket hashing runs JVM-SIDE before the stateful operator (the
    same md5 arithmetic as the batch sketch); the Arrow-batched state
    update only adds per-batch (row, bucket) counts into the bounded
    dict.  Emits the group's ENTIRE live cell table per updated batch,
    tagged with the strictly-increasing n_seen — the caller selects
    each group's max-n_seen emission to reconstruct the final
    counters.  State is O(depth·width) longs per group regardless of
    stream cardinality."""
    if not events.isStreaming:
        raise ValueError(
            "streaming_cms needs a streaming DataFrame; use "
            "operators.sketch.cms_point_estimates for batch"
        )

    def bucket(j_col, val_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "\x1f", F.lit(seed), j_col.cast("string"), val_col
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            % width
        )

    rows = events.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("string").alias("val"),
        "ts",
    ).withColumn(
        "__j", F.explode(F.array(*[F.lit(j) for j in range(depth)]))
    ).withColumn(
        "__b", bucket(F.col("__j"), F.col("val"))
    ).select("g", "__j", "__b", "ts")

    out_schema = T.StructType(
        [
            T.StructField("g", T.StringType(), False),
            T.StructField("j", T.IntegerType(), False),
            T.StructField("b", T.LongType(), False),
            T.StructField("c", T.LongType(), False),
            T.StructField("n_seen", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("js", T.ArrayType(T.IntegerType()), False),
            T.StructField("bs", T.ArrayType(T.LongType()), False),
            T.StructField("cs", T.ArrayType(T.LongType()), False),
            T.StructField("n", T.LongType(), False),
        ]
    )

    def update(key, pdfs, state):
        import pandas as pd

        js, bs, cs, n = state.get if state.exists else ([], [], [], 0)
        cells = {(int(j), int(b)): int(c) for j, b, c in zip(js, bs, cs)}
        for pdf in pdfs:
            # depth rows per event: count events once via one hash row
            n += int((pdf["__j"] == 0).sum())
            for (j, b), cnt in pdf.groupby(["__j", "__b"]).size().items():
                cells[(int(j), int(b))] = cells.get((int(j), int(b)), 0) + int(
                    cnt
                )
        items = sorted(cells.items())
        state.update(
            (
                [j for (j, _), _ in items],
                [b for (_, b), _ in items],
                [c for _, c in items],
                n,
            )
        )
        yield pd.DataFrame(
            {
                "g": [key[0]] * len(items),
                "j": [j for (j, _), _ in items],
                "b": [b for (_, b), _ in items],
                "c": [c for _, c in items],
                "n_seen": [n] * len(items),
            }
        )

    return (
        rows.withWatermark("ts", watermark)
        .groupBy("g")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )


def streaming_capped_sessions(
    events: DataFrame,
    *,
    gap_seconds: int = 43_200,
    max_duration_seconds: int = 172_800,
    watermark: str = "365 days",
) -> DataFrame:
    """Streaming CAPPED SESSIONIZATION — the stateful twin of
    `operators/events.py:sessionize_capped` and the live form of the
    session semantics Spark's built-in ``session_window`` cannot
    express (its gap-only sessions have no duration cap, and the cap
    is SEQUENTIAL: each break depends on the session start previous
    breaks chose).  Per-user state is four numbers — (sid, session
    start µs, previous-event µs, open-session event count) — O(active
    users) regardless of event volume; each micro-batch folds its
    events in (ts, event_id) order, emits every session TOUCHED in the
    batch (closed ones finally, the open one provisionally) tagged
    with the user's strictly-increasing ``n_seen``, and the caller
    keeps each (user, session_id)'s max-``n_seen`` emission — the
    st16/st17 reconstruction discipline.

    Arrival-order contract: sessions fold in batch order, so the full
    batch-twin oracle holds when batches are staged in event-time
    order (the st19 entry time-splits the fixture); out-of-order
    arrival is the documented trade every stateful sessionizer makes
    without a reorder buffer."""
    if not events.isStreaming:
        raise ValueError(
            "streaming_capped_sessions needs a streaming DataFrame; use "
            "operators.events.sessionize_capped for batch"
        )
    gap_us = gap_seconds * 1_000_000
    max_us = max_duration_seconds * 1_000_000

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("session_id", T.IntegerType(), False),
            T.StructField("session_start", T.TimestampNTZType(), False),
            T.StructField("session_end", T.TimestampNTZType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("n_seen", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("sid", T.IntegerType(), False),
            T.StructField("start_us", T.LongType(), False),
            T.StructField("prev_us", T.LongType(), False),
            T.StructField("n", T.LongType(), False),
            T.StructField("seen", T.LongType(), False),
        ]
    )

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        # GroupState.get is a PROPERTY (raises if absent), not a method
        sid, start_us, prev_us, n, seen = (
            state.get if state.exists else (-1, 0, 0, 0, 0)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["__us", "event_id"], kind="mergesort")
        # vectorized batch fold (the sessionize_capped technique — the
        # row-at-a-time pd.Timestamp loop was the streaming lane's one
        # >3×/decade reading): gap breaks from one diff (seeded with the
        # carried prev_us), duration breaks by searchsorted jumps —
        # the CONTINUATION segment measures duration from the carried
        # session start, later runs from their own first event.
        # __us is plan-side epoch micros (unix_micros for LTZ input),
        # never the tz-naive wall clock Arrow hands over — wall-clock
        # diffs across a DST transition are off by the DST offset.
        us = rows["__us"].to_numpy().astype(np.int64)
        m = len(us)
        seen += m
        out = []
        if m:
            gaps = np.empty(m, dtype=np.int64)
            gaps[0] = (us[0] - prev_us) if sid >= 0 else gap_us
            if m > 1:
                gaps[1:] = us[1:] - us[:-1]
            run_starts = np.flatnonzero(gaps >= gap_us)
            run_bounds = np.append(run_starts, m)
            starts: list[int] = []
            if sid >= 0:
                hi = int(run_starts[0]) if run_starts.size else m
                i, cs = 0, start_us
                while i < hi:
                    j = i + int(
                        np.searchsorted(us[i:hi], cs + max_us, side="right")
                    )
                    if j >= hi:
                        break
                    starts.append(j)
                    cs, i = int(us[j]), j
            for ri in range(len(run_starts)):
                s_, e_ = int(run_bounds[ri]), int(run_bounds[ri + 1])
                i = s_
                while True:
                    starts.append(i)
                    j = i + int(
                        np.searchsorted(us[i:e_], us[i] + max_us, side="right")
                    )
                    if j >= e_:
                        break
                    i = j
            starts.sort()
            if sid >= 0:
                # the carried OPEN session: extended by the pre-break
                # prefix (possibly empty — then it closes untouched at
                # its old end, exactly as the sequential fold emitted)
                b0 = starts[0] if starts else m
                end0 = int(us[b0 - 1]) if b0 > 0 else prev_us
                out.append((int(key[0]), int(sid), start_us, end0, n + b0))
            for k, sdx in enumerate(starts):
                e_ = starts[k + 1] if k + 1 < len(starts) else m
                out.append(
                    (
                        int(key[0]),
                        int(sid) + 1 + k,
                        int(us[sdx]),
                        int(us[e_ - 1]),
                        e_ - sdx,
                    )
                )
            if starts:
                sid = sid + len(starts)
                start_us = int(us[starts[-1]])
                n = m - starts[-1]
            else:
                n = n + m
            prev_us = int(us[-1])
        elif sid >= 0:
            # empty batch for an existing user: re-emit the open session
            # provisionally (same as the sequential fold's tail emit)
            out.append((int(key[0]), int(sid), start_us, prev_us, n))
        state.update((int(sid), int(start_us), int(prev_us), int(n), int(seen)))
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out],
                "session_id": [r[1] for r in out],
                "session_start": [pd.Timestamp(r[2], unit="us") for r in out],
                "session_end": [pd.Timestamp(r[3], unit="us") for r in out],
                "n_events": [r[4] for r in out],
                "n_seen": [seen] * len(out),
            }
        )

    if isinstance(events.schema["ts"].dataType, T.TimestampType):
        us_in = F.unix_micros(F.col("ts"))  # instant-exact for LTZ input
    else:
        us_in = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    return (
        events.withWatermark("ts", watermark)
        .withColumn("__us", us_in.cast("long"))
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )


def streaming_funnel(
    events: DataFrame,
    stages: list[str],
    *,
    max_gap_us: int | None = None,
    watermark: str = "365 days",
) -> DataFrame:
    """STREAMING ordered-funnel conversion — the stateful twin of
    `operators/events.py:funnel` and the CEP shape (MATCH_RECOGNIZE's
    core pattern) Spark Structured Streaming has no native operator
    for: per user, how far through ``stages`` the live event sequence
    has progressed, where stage i+1 counts only if an event of that
    type occurs STRICTLY after the event that completed stage i (the
    staged-min construction — greedy-earliest anchors are optimal
    because a smaller anchor only widens every later stage's candidate
    set).

    Per-user state is three numbers — (stage, anchor µs, n_seen) —
    O(active users) regardless of event volume.  Each micro-batch
    advances the anchor through AT MOST ``len(stages)`` searchsorted
    jumps over the batch's per-type time-sorted arrays (never a
    per-event Python loop), then emits the user's current
    (stages_completed, completed_at) tagged with the strictly-
    increasing ``n_seen``; the caller keeps each user's max-``n_seen``
    emission — the st16/st17/st19 reconstruction.  completed_at is
    reconstructed from the anchor's epoch micros (plan-side
    ``unix_micros`` — DST-safe for LTZ input, exact for NTZ).

    ``max_gap_us`` adds the CONVERSION-WINDOW semantics (the batch
    funnel's q91 mode): stage i+1 must land within that many
    microseconds of the stage-i anchor.  Under event-time-ordered
    batches the window verdict is INCREMENTAL-FINAL: the first
    needed-type event after the anchor being beyond the window proves
    no qualifying event can ever arrive (later events are larger), so
    the funnel freezes — state carries one extra boolean and stuck
    keys stop scanning.

    Arrival-order contract (st19's): folds run in batch order, so the
    batch-twin oracle holds when batches are staged in event-time
    order; out-of-order arrival is the documented trade every
    anchor-carrying CEP operator makes without a reorder buffer.

    Scale note: every event of the key reaches its state task (one
    user-hash exchange), but state never grows with volume; at 100 TB
    pre-filter to ``event_type IN stages`` and union the distinct
    non-participating users back as stage 0 if the full user roster
    matters."""
    if not events.isStreaming:
        raise ValueError(
            "streaming_funnel needs a streaming DataFrame; use "
            "operators.events.funnel for batch"
        )
    if not stages:
        raise ValueError("stages must be non-empty")
    if max_gap_us is not None and max_gap_us < 1:
        raise ValueError("max_gap_us must be >= 1 or None")
    n_stages = len(stages)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("stages_completed", T.IntegerType(), False),
            T.StructField("completed_at", T.TimestampNTZType(), True),
            T.StructField("n_seen", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("stage", T.IntegerType(), False),
            T.StructField("anchor_us", T.LongType(), False),
            T.StructField("stuck", T.BooleanType(), False),
            T.StructField("seen", T.LongType(), False),
        ]
    )

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        stage, anchor_us, stuck, seen = (
            state.get if state.exists else (0, 0, False, 0)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        seen += len(rows)
        if stage < n_stages and not stuck and len(rows):
            et = rows["event_type"].to_numpy()
            us = rows["__us"].to_numpy().astype(np.int64)
            by_type = {
                s: np.sort(us[et == s])
                for s in dict.fromkeys(stages[stage:])
            }
            while stage < n_stages:
                arr = by_type[stages[stage]]
                # stage 0 takes its earliest event unconditionally;
                # later stages need STRICTLY after the anchor
                idx = (
                    0
                    if stage == 0
                    else int(np.searchsorted(arr, anchor_us, side="right"))
                )
                if idx >= len(arr):
                    break
                cand = int(arr[idx])
                if (
                    max_gap_us is not None
                    and stage > 0
                    and cand - anchor_us > max_gap_us
                ):
                    # the FIRST needed-type event after the anchor is
                    # already beyond the window — with time-ordered
                    # batches no qualifying event can ever arrive:
                    # freeze the funnel (final verdict)
                    stuck = True
                    break
                anchor_us = cand
                stage += 1
        state.update((int(stage), int(anchor_us), bool(stuck), int(seen)))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "stages_completed": [int(stage)],
                "completed_at": [
                    pd.Timestamp(anchor_us, unit="us") if stage else pd.NaT
                ],
                "n_seen": [seen],
            }
        )

    if isinstance(events.schema["ts"].dataType, T.TimestampType):
        us_in = F.unix_micros(F.col("ts"))
    else:
        us_in = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    return (
        events.withWatermark("ts", watermark)
        .select(
            "user_id",
            "ts",
            "event_type",
            us_in.cast("long").alias("__us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )


def stream_stream_anti_join(
    events: DataFrame,
    *,
    on: str = "user_id",
    left_type: str = "view",
    right_type: str = "purchase",
    watermark: str = "365 days",
    horizon_seconds: int | None = None,
) -> DataFrame:
    """Stream-stream LEFT ANTI join on a key — the one join shape
    Spark's native stream-stream machinery REFUSES ("LeftAnti joins
    with a streaming DataFrame/Dataset on the right are not
    supported"): the ``left_type`` events whose key NEVER sees a
    ``right_type`` event.  Anti is intrinsically a negative existence
    claim, so no row's verdict is final until the stream ends — the
    operator therefore runs the st16/st17/st19 EMIT-AND-CORRECT
    protocol over per-key state:

    * state per key: (right_seen, pending left ids, n_seen);
    * a batch with only lefts emits them ``matched=false`` and appends
      to pending;
    * the batch bringing the key's FIRST right emits every pending
      left ``matched=true`` (the correction) and clears pending;
      later lefts emit ``matched=true`` immediately with empty state;
    * every emission carries the key's strictly-increasing ``n_seen``
      — the caller keeps each left event's max-``n_seen`` emission and
      the final ``matched=false`` rows are the anti result, equal to
      the batch ANTI oracle over the same input.

    State honesty: with the default ``horizon_seconds=None`` pending is
    bounded by the lefts a key accumulates BEFORE its first right —
    for true anti keys that is their full left set, i.e. the result
    itself; keys that do match collapse to a boolean.

    ``horizon_seconds=T`` selects the PRODUCTION mode: a left is
    matched iff a same-key right lands in event time
    ``[left_ts, left_ts + T]`` — "no match within T ⇒ anti".  That
    verdict is FINAL once the watermark passes ``left_ts + T``, so
    per-key state is a constant (the lefts of the last T window plus
    the not-yet-watermarked rights), watermark-evicted via
    EventTimeTimeout — idle keys drop to zero state.  The batch oracle
    is the NOT-EXISTS range anti join with the same bounds."""
    if not events.isStreaming:
        raise ValueError(
            "stream_stream_anti_join needs a streaming DataFrame "
            "(applyInPandasWithState is stream-only); in batch use a "
            "plain LEFT ANTI join — the oracle path"
        )
    if isinstance(events.schema["ts"].dataType, T.TimestampType):
        us_in = F.unix_micros(F.col("ts"))  # instant-exact for LTZ input
    else:
        us_in = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    flat = events.select(
        F.col(on).alias("k"),
        F.col("ts"),
        F.col("event_id"),
        us_in.cast("long").alias("__us"),
        F.when(F.col("event_type") == left_type, F.lit(1))
        .when(F.col("event_type") == right_type, F.lit(2))
        .otherwise(F.lit(0))
        .alias("side"),
    ).filter(F.col("side") > 0).withWatermark("ts", watermark)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_id", T.LongType(), False),
            T.StructField("matched", T.BooleanType(), False),
            T.StructField("n_seen", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("right_seen", T.BooleanType(), False),
            T.StructField("pending", T.ArrayType(T.LongType()), False),
            T.StructField("seen", T.LongType(), False),
        ]
    )

    def update(key, pdfs, state):
        import pandas as pd

        right_seen, pending, seen = (
            state.get if state.exists else (False, [], 0)
        )
        pending = list(pending)
        rows = pd.concat(list(pdfs), ignore_index=True)
        seen += len(rows)
        lefts = [int(e) for e in rows.loc[rows["side"] == 1, "event_id"]]
        has_right = bool((rows["side"] == 2).any())
        out_ids: list[int] = []
        out_matched: list[bool] = []
        if right_seen:
            out_ids, out_matched = lefts, [True] * len(lefts)
        elif has_right:
            # the key's first right: correct every pending left
            out_ids = pending + lefts
            out_matched = [True] * len(out_ids)
            right_seen, pending = True, []
        else:
            pending = pending + lefts
            out_ids, out_matched = lefts, [False] * len(lefts)
        state.update((bool(right_seen), pending, int(seen)))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(out_ids),
                "event_id": out_ids,
                "matched": out_matched,
                "n_seen": [seen] * len(out_ids),
            }
        )

    if horizon_seconds is None:
        return flat.groupBy("k").applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )

    if horizon_seconds < 1:
        raise ValueError("horizon_seconds must be >= 1 or None")
    hor_us = horizon_seconds * 1_000_000
    h_state_schema = T.StructType(
        [
            T.StructField("rights", T.ArrayType(T.LongType()), False),
            T.StructField("pend_eid", T.ArrayType(T.LongType()), False),
            T.StructField("pend_us", T.ArrayType(T.LongType()), False),
            T.StructField("seen", T.LongType(), False),
        ]
    )

    def update_horizon(key, pdfs, state):
        import numpy as np
        import pandas as pd

        def emit(eids, matched, seen):
            return pd.DataFrame(
                {
                    "user_id": [int(key[0])] * len(eids),
                    "event_id": eids,
                    "matched": matched,
                    "n_seen": [seen] * len(eids),
                }
            )

        if state.hasTimedOut:
            # every pending left's ts_l + T is behind the watermark —
            # their provisional matched=false emissions are final; the
            # key's state drops to ZERO (the bound the unbounded mode
            # can only document)
            state.remove()
            yield emit([], [], 0)
            return
        wm_us = state.getCurrentWatermarkMs() * 1000
        rights, pend_eid, pend_us, seen = (
            state.get if state.exists else ([], [], [], 0)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        seen += len(rows)
        b_us = rows["__us"].to_numpy().astype(np.int64)
        b_side = rows["side"].to_numpy()
        rts = np.sort(
            np.concatenate(
                [np.asarray(rights, dtype=np.int64), b_us[b_side == 2]]
            )
        )

        def is_matched(ts_arr: np.ndarray) -> np.ndarray:
            # exists right in [ts, ts + T]: the first right >= ts must
            # be <= ts + T (searchsorted on the sorted right times)
            if len(rts) == 0:
                return np.zeros(len(ts_arr), dtype=bool)
            idx = np.searchsorted(rts, ts_arr, side="left")
            hit = idx < len(rts)
            nxt = np.where(hit, rts[np.minimum(idx, len(rts) - 1)], 0)
            return hit & (nxt <= ts_arr + hor_us)

        out_ids: list[int] = []
        out_matched: list[bool] = []
        # pending lefts: corrected if a batch right now falls in range,
        # silently finalized (anti) once watermark passes ts_l + T,
        # kept otherwise
        keep_eid: list[int] = []
        keep_us: list[int] = []
        if pend_eid:
            p_us = np.asarray(pend_us, dtype=np.int64)
            p_hit = is_matched(p_us)
            for e, u, hit in zip(pend_eid, p_us, p_hit):
                if hit:
                    out_ids.append(int(e))
                    out_matched.append(True)
                elif u + hor_us >= wm_us:
                    keep_eid.append(int(e))
                    keep_us.append(int(u))
        # batch lefts: immediate verdict; unmatched ones go pending
        l_eid = rows.loc[b_side == 1, "event_id"].to_numpy().astype(np.int64)
        l_us = b_us[b_side == 1]
        l_hit = is_matched(l_us) if len(l_us) else np.zeros(0, dtype=bool)
        for e, u, hit in zip(l_eid, l_us, l_hit):
            out_ids.append(int(e))
            out_matched.append(bool(hit))
            if not hit:
                keep_eid.append(int(e))
                keep_us.append(int(u))
        # a right is dead once the watermark passes it: any left it
        # could match has ts_l <= ts_r < wm, i.e. already dropped late
        live_rights = [int(r) for r in rts[rts >= wm_us]]
        if keep_eid or live_rights:
            state.update((live_rights, keep_eid, keep_us, int(seen)))
            deadline_us = max(
                [u + hor_us for u in keep_us] + live_rights
            )
            state.setTimeoutTimestamp(
                max(deadline_us // 1000 + 1, wm_us // 1000 + 1)
            )
        else:
            state.remove()
        yield emit(out_ids, out_matched, seen)

    return flat.groupBy("k").applyInPandasWithState(
        update_horizon, out_schema, h_state_schema, "update", "EventTimeTimeout"
    )


def streaming_last_touch(
    events: DataFrame,
    *,
    view_type: str = "view",
    purchase_type: str = "purchase",
    watermark: str = "365 days",
) -> DataFrame:
    """STREAMING last-touch attribution — the stateful twin of
    `operators/events.py:last_touch_attribution`: each purchase is
    credited to the same user's most recent STRICTLY PRECEDING view on
    the shared (ts, event_id) ordering, at the moment the purchase is
    processed → (purchase_id, user_id, attributed_view_id, gap_us),
    one FINAL row per purchase (append semantics — a preceding view
    can only be in the past, so with event-time-ordered batches the
    verdict never needs correction, unlike st20/st21's emit-and-
    correct anti joins).

    Per-user state is TWO numbers — the last view's (epoch µs, id) —
    a CONSTANT per active user regardless of volume (the minimal
    possible attribution state; even st21's horizon mode keeps a
    window of rows).  Each micro-batch sorts its per-user slice once
    by (µs, id); a purchase's in-batch predecessor is then a prefix
    count (views strictly before it in the total order = cumsum at
    its position), vectorized — no per-event Python loop — and the
    no-in-batch-view case falls back to the carried state.

    Arrival-order contract (st19/st22's): folds run in batch order,
    so the batch-twin oracle holds when batches are staged in
    event-time order; a view arriving AFTER its purchase's batch
    cannot retro-attribute — the documented trade of every
    constant-state attribution operator without a reorder buffer."""
    if not events.isStreaming:
        raise ValueError(
            "streaming_last_touch needs a streaming DataFrame; use "
            "operators.events.last_touch_attribution for batch"
        )

    out_schema = T.StructType(
        [
            T.StructField("purchase_id", T.LongType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("attributed_view_id", T.LongType(), True),
            T.StructField("gap_us", T.LongType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("lv_us", T.LongType(), False),
            T.StructField("lv_id", T.LongType(), False),
        ]
    )

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        lv_us, lv_id = state.get if state.exists else (-1, -1)
        rows = pd.concat(list(pdfs), ignore_index=True)
        us = rows["__us"].to_numpy().astype(np.int64)
        ids = rows["event_id"].to_numpy().astype(np.int64)
        et = rows["event_type"].to_numpy()
        order = np.lexsort((ids, us))
        us, ids, et = us[order], ids[order], et[order]
        is_v = et == view_type
        is_p = et == purchase_type
        # prefix count of views at-or-before each sorted position;
        # a purchase row is never a view, so pv[r] = views strictly
        # before it in the shared (µs, id) total order
        pv = np.cumsum(is_v)
        v_us, v_id = us[is_v], ids[is_v]
        p_pos = np.nonzero(is_p)[0]
        out_pid, out_vid, out_gap = [], [], []
        for r in p_pos:
            nbefore = int(pv[r])
            if nbefore > 0:
                a_us, a_id = int(v_us[nbefore - 1]), int(v_id[nbefore - 1])
            elif lv_us >= 0:
                a_us, a_id = lv_us, lv_id
            else:
                a_us, a_id = None, None
            out_pid.append(int(ids[r]))
            out_vid.append(a_id)
            out_gap.append(None if a_us is None else int(us[r]) - a_us)
        if len(v_us):
            lv_us, lv_id = int(v_us[-1]), int(v_id[-1])
        state.update((int(lv_us), int(lv_id)))
        yield pd.DataFrame(
            {
                "purchase_id": pd.array(out_pid, dtype="Int64"),
                "user_id": pd.array([int(key[0])] * len(out_pid), dtype="Int64"),
                "attributed_view_id": pd.array(out_vid, dtype="Int64"),
                "gap_us": pd.array(out_gap, dtype="Int64"),
            }
        )

    if isinstance(events.schema["ts"].dataType, T.TimestampType):
        us_in = F.unix_micros(F.col("ts"))
    else:
        us_in = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    return (
        events.withWatermark("ts", watermark)
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            us_in.cast("long").alias("__us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def streaming_clamped_balance(
    events: DataFrame,
    *,
    delta_col: str = "delta",
    watermark: str = "365 days",
) -> DataFrame:
    """STREAMING zero-clamped running balance — the stateful twin of
    `operators/events.py:clamped_running_balance`: per-user state is
    ONE long (the current balance), each batch applies the same
    Lindley closed form VECTORIZED over its per-user slice started at
    the carried balance — ``B = (b0 + S) − min(0, runmin(b0 + S))`` —
    cumsum + minimum.accumulate, never a per-event Python loop (the
    reflection map composes: finishing a batch at balance b and
    starting the next from b is the same walk) →
    (event_id, user_id, balance), one FINAL row per event (append
    semantics — a balance depends only on the past).

    Arrival-order contract (st19/st22/st25's): folds run in batch
    order, so the batch-twin oracle holds when batches are staged in
    event-time order."""
    if not events.isStreaming:
        raise ValueError(
            "streaming_clamped_balance needs a streaming DataFrame; use "
            "operators.events.clamped_running_balance for batch"
        )

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("balance", T.LongType(), False),
        ]
    )
    state_schema = T.StructType([T.StructField("bal", T.LongType(), False)])

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        (bal,) = state.get if state.exists else (0,)
        rows = pd.concat(list(pdfs), ignore_index=True)
        us = rows["__us"].to_numpy().astype(np.int64)
        ids = rows["event_id"].to_numpy().astype(np.int64)
        deltas = rows["__d"].to_numpy().astype(np.int64)
        order = np.lexsort((ids, us))
        ids, deltas = ids[order], deltas[order]
        pre = bal + np.cumsum(deltas)
        runmin = np.minimum.accumulate(np.minimum(pre, 0))
        out = pre - runmin
        if len(out):
            bal = int(out[-1])
        state.update((int(bal),))
        yield pd.DataFrame(
            {
                "event_id": ids,
                "user_id": np.full(len(ids), int(key[0]), dtype=np.int64),
                "balance": out.astype(np.int64),
            }
        )

    if isinstance(events.schema["ts"].dataType, T.TimestampType):
        us_in = F.unix_micros(F.col("ts"))
    else:
        us_in = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    return (
        events.withWatermark("ts", watermark)
        .select(
            "user_id",
            "ts",
            "event_id",
            us_in.cast("long").alias("__us"),
            F.col(delta_col).cast("long").alias("__d"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def streaming_running_distinct(
    events: DataFrame,
    *,
    value_col: str = "event_type",
    watermark: str = "365 days",
) -> DataFrame:
    """STREAMING running distinct count — the stateful twin of
    `operators/events.py:running_distinct`: for every event, how many
    distinct ``value_col`` values its key has produced so far on the
    shared (ts, id) ordering → (event_id, user_id, n_distinct), one
    FINAL row per event (append — the count depends only on the past).

    Per-user state is the SET of values seen — bounded by the VALUE
    DOMAIN's cardinality, not by event volume (the dimension-like
    contract: event types, countries, plan tiers; for an unbounded
    domain use st12's HLL instead and accept approximation).  Per
    batch the fold is vectorized: pandas ``factorize`` + first-
    occurrence masks against the carried set, no per-event loop.

    NULL handling matches the batch twin (eqNullSafe semantics): a
    NULL value is its OWN distinct value, counted once.  Internally
    NULLs are folded onto the sentinel string ``"\\x00<null>"`` before
    factorize — ``pd.factorize`` would otherwise code NaN as -1,
    which silently indexes the LAST unique — so an actual value equal
    to that sentinel (a NUL byte prefix, impossible in sane event
    vocabularies) would be conflated with NULL.  The NULL mask is
    ``pd.isna``, which also matches float NaN: for a NUMERIC distinct
    column a genuine NaN VALUE is conflated with SQL NULL.  This is
    inherent to the Arrow→pandas bridge (Spark NULL in a float column
    arrives as NaN, indistinguishable from a NaN value), not a choice
    this fold could make differently; current callers pass strings,
    where None is the only na.

    Arrival-order contract (st19/st22/st25/st26's): batches staged in
    event-time order."""
    if not events.isStreaming:
        raise ValueError(
            "streaming_running_distinct needs a streaming DataFrame; use "
            "operators.events.running_distinct for batch"
        )

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_distinct", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("seen", T.ArrayType(T.StringType()), False)]
    )

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        (seen_list,) = state.get if state.exists else ([],)
        seen = set(seen_list)
        rows = pd.concat(list(pdfs), ignore_index=True)
        us = rows["__us"].to_numpy().astype(np.int64)
        ids = rows["event_id"].to_numpy().astype(np.int64)
        vals = rows["__v"].to_numpy(dtype=object)
        order = np.lexsort((ids, us))
        ids, vals = ids[order], vals[order]
        # NULL is a real category (batch-twin eqNullSafe parity):
        # without this, factorize codes NaN/None as -1 and the
        # seen_code/already lookups below index the LAST unique
        null_mask = pd.isna(vals)
        if null_mask.any():
            vals = vals.copy()
            vals[null_mask] = "\x00<null>"
        codes, uniques = pd.factorize(vals)
        # first in-batch occurrence of each code, in sorted order
        first_pos = np.zeros(len(codes), dtype=bool)
        seen_code = np.full(len(uniques), False)
        already = np.array([u in seen for u in uniques])
        for i, c in enumerate(codes):  # single pass over the batch slice;
            # the per-element body is two array reads and two writes —
            # the batch is one user's slice, and factorize above did the
            # string work vectorized
            if not seen_code[c] and not already[c]:
                seen_code[c] = True
                first_pos[i] = True
        n0 = len(seen)
        nd = n0 + np.cumsum(first_pos)
        seen.update(map(str, uniques[seen_code]))
        state.update((sorted(seen),))
        yield pd.DataFrame(
            {
                "event_id": ids,
                "user_id": np.full(len(ids), int(key[0]), dtype=np.int64),
                "n_distinct": nd.astype(np.int64),
            }
        )

    if isinstance(events.schema["ts"].dataType, T.TimestampType):
        us_in = F.unix_micros(F.col("ts"))
    else:
        us_in = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    return (
        events.withWatermark("ts", watermark)
        .select(
            "user_id",
            "ts",
            "event_id",
            us_in.cast("long").alias("__us"),
            F.col(value_col).cast("string").alias("__v"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def streaming_time_decay_attribution(
    events: DataFrame,
    *,
    view_type: str = "view",
    purchase_type: str = "purchase",
    half_life_seconds: int = 86_400,
    max_halflives: int = 50,
    watermark: str = "365 days",
) -> DataFrame:
    """STREAMING time-decay multi-touch attribution — the stateful twin
    of `operators/events.py:time_decay_attribution` (q96's scope: every
    view belongs to the FIRST purchase at-or-after it): per-user state
    is the PENDING VIEW list (epoch µs + id of views since the last
    purchase — bounded by the user's views-between-purchases, the
    natural cadence bound; a horizon-evicting variant would mirror
    st21 if purchases can stop forever).  On each purchase the pending
    views (carried + in-batch-before-it) are emitted with the same
    dyadic-exact weights — ``2^(max_halflives − whole half-lives)``,
    an exact integer normalizer, one IEEE division — and the pending
    list resets.  Emissions are FINAL (append): a view preceding a
    purchase can only be in the past.

    Per batch the fold loops over PURCHASES, not events (numpy segment
    slices between consecutive purchase positions); views after the
    user's last purchase stay pending in state, honestly unattributed
    so far — exactly the batch operator's drop semantics once the
    stream ends.  Arrival-order contract (st19/st22/st25/st26's):
    batches staged in event-time order."""
    if not events.isStreaming:
        raise ValueError(
            "streaming_time_decay_attribution needs a streaming DataFrame; "
            "use operators.events.time_decay_attribution for batch"
        )
    if not 0 <= max_halflives <= 62:
        raise ValueError("max_halflives must be in [0, 62]")
    if half_life_seconds < 1:
        raise ValueError("half_life_seconds must be >= 1")
    hl_us = half_life_seconds * 1_000_000

    out_schema = T.StructType(
        [
            T.StructField("purchase_id", T.LongType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("view_id", T.LongType(), False),
            T.StructField("halflives", T.LongType(), False),
            T.StructField("weight", T.LongType(), False),
            T.StructField("credit", T.DoubleType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("v_us", T.ArrayType(T.LongType()), False),
            T.StructField("v_id", T.ArrayType(T.LongType()), False),
        ]
    )

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        p_us, p_id = state.get if state.exists else ([], [])
        pend_us = np.array(p_us, dtype=np.int64)
        pend_id = np.array(p_id, dtype=np.int64)
        rows = pd.concat(list(pdfs), ignore_index=True)
        us = rows["__us"].to_numpy().astype(np.int64)
        ids = rows["event_id"].to_numpy().astype(np.int64)
        et = rows["event_type"].to_numpy()
        order = np.lexsort((ids, us))
        us, ids, et = us[order], ids[order], et[order]
        is_v = et == view_type
        out = {k: [] for k in ("pid", "vid", "hl", "w", "c")}
        prev = 0
        for r in np.nonzero(et == purchase_type)[0]:
            seg = slice(prev, r)
            v_us = np.concatenate([pend_us, us[seg][is_v[seg]]])
            v_id = np.concatenate([pend_id, ids[seg][is_v[seg]]])
            pend_us = pend_us[:0]
            pend_id = pend_id[:0]
            prev = r  # views in [r, next) belong to the NEXT purchase
            if not len(v_us):
                continue
            hl = np.minimum((int(us[r]) - v_us) // hl_us, max_halflives)
            w = np.int64(1) << (max_halflives - hl)
            # mirror the engines' op sequence exactly: exact-int sum,
            # CAST both to double, ONE double division (python int/int
            # true division is correctly rounded on the exact integers
            # and can differ past 2^53 — don't use it)
            ftot = float(int(w.sum()))
            out["pid"] += [int(ids[r])] * len(v_us)
            out["vid"] += [int(x) for x in v_id]
            out["hl"] += [int(x) for x in hl]
            out["w"] += [int(x) for x in w]
            out["c"] += [float(int(x)) / ftot for x in w]
        tail = slice(prev, len(us))
        pend_us = np.concatenate([pend_us, us[tail][is_v[tail]]])
        pend_id = np.concatenate([pend_id, ids[tail][is_v[tail]]])
        state.update(([int(x) for x in pend_us], [int(x) for x in pend_id]))
        yield pd.DataFrame(
            {
                "purchase_id": pd.array(out["pid"], dtype="Int64"),
                "user_id": pd.array([int(key[0])] * len(out["pid"]), dtype="Int64"),
                "view_id": pd.array(out["vid"], dtype="Int64"),
                "halflives": pd.array(out["hl"], dtype="Int64"),
                "weight": pd.array(out["w"], dtype="Int64"),
                "credit": pd.array(out["c"], dtype="float64"),
            }
        )

    if isinstance(events.schema["ts"].dataType, T.TimestampType):
        us_in = F.unix_micros(F.col("ts"))
    else:
        us_in = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    return (
        events.withWatermark("ts", watermark)
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            us_in.cast("long").alias("__us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def streaming_twap(
    events: DataFrame,
    *,
    value_col: str = "value",
    watermark: str = "365 days",
) -> DataFrame:
    """STREAMING time-weighted average — the stateful twin of the q85
    batch TWAP (`__spark_entry__.py:q85`): each observation holds until
    the user's NEXT event, so every event after the first CLOSES one
    interval, and we emit the user's running TWAP as of that close →
    (event_id, user_id, n_intervals, total_us, twap), one FINAL row per
    closed interval (append — a closed interval is entirely in the
    past).  Completes the warehouse batch/streaming matrix's last cell:
    funnel q58/st22, SCD2 q59/st24, attribution q89/st25 q96/st28,
    balance q97/st26, distinct q94/st27, OHLC st14 — and now TWAP
    q85/st30.

    Exactness discipline (q85's, carried across batches): values are
    plan-side fixed-point ``ROUND(v·10⁴)`` longs; per-interval products
    v·Δt_µs stay < 2⁶³ per row but their RUNNING SUM does not, so the
    numerator accumulates as arbitrary-precision Python ints (an object
    ndarray — np.cumsum over it is one vectorized call dispatching to
    int.__add__, never a per-event Python loop body of our own) and is
    carried in state as a decimal STRING.  The final division replays
    the engines' CAST-then-divide exactly: float(num)/1e4/float(den)
    (python int/int true division would diverge past 2^53 — the st28
    lesson).  ROUND(…, 6) is applied by the CALLER plan-side (st30's
    entry) so both engines round the same double the same way.

    Per-user state: (last µs, last fixed-point value, n, Σδt, Σv·δt as
    string) — five scalars, constant at any volume.

    NULL observations are dropped plan-side (a NULL price neither holds
    nor closes an interval); the events fixture has none, so the twin
    oracle is unaffected.

    Arrival-order contract (st19/st22/st25/st26's): batches staged in
    event-time order."""
    if not events.isStreaming:
        raise ValueError(
            "streaming_twap needs a streaming DataFrame; use the q85 "
            "batch TWAP for batch input"
        )

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_intervals", T.LongType(), False),
            T.StructField("total_us", T.LongType(), False),
            # nullable: a user whose LEADING intervals all have zero
            # duration (first events share a timestamp) has Σδt = 0,
            # and both engines yield NULL for the /0 division — the
            # fold must emit a true null there, never crash or NaN
            T.StructField("twap_raw", T.DoubleType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_us", T.LongType(), False),
            T.StructField("last_v", T.LongType(), False),
            T.StructField("n", T.LongType(), False),
            T.StructField("total_us", T.LongType(), False),
            T.StructField("num", T.StringType(), False),
        ]
    )

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True)
        us = rows["__us"].to_numpy().astype(np.int64)
        ids = rows["event_id"].to_numpy().astype(np.int64)
        vs = rows["__v"].to_numpy().astype(np.int64)
        order = np.lexsort((ids, us))
        us, ids, vs = us[order], ids[order], vs[order]
        if state.exists:
            last_us, last_v, n0, tot0, num_s = state.get
            num0 = int(num_s)
            has_prev = True
        else:
            n0, tot0, num0 = 0, 0, 0
            has_prev = False
        # previous observation per event: the carried state for the
        # batch's first event, the in-batch predecessor after that
        pus = np.empty(len(us), dtype=np.int64)
        pv = np.empty(len(us), dtype=np.int64)
        if has_prev:
            pus[0], pv[0] = last_us, last_v
        pus[1:], pv[1:] = us[:-1], vs[:-1]
        start = 0 if has_prev else 1  # a user's first-ever event closes nothing
        du = (us[start:] - pus[start:]).astype(object)
        prod = du * pv[start:].astype(object)  # arbitrary-precision ints
        if len(du):
            ctot = np.cumsum(du) + tot0
            cnum = np.cumsum(prod) + num0
        else:
            ctot = cnum = np.array([], dtype=object)
        cn = n0 + np.arange(1, len(du) + 1)
        # b == 0 (all closed intervals so far zero-length) → NULL, the
        # engines' division-by-zero result — pd.NA survives to a real
        # Spark null where np.nan would arrive as NaN
        twap = pd.array(
            [
                None if b == 0 else float(a) / 10000.0 / float(b)
                for a, b in zip(cnum, ctot)
            ],
            dtype="Float64",
        )
        n_end = int(n0 + len(du))
        tot_end = int(ctot[-1]) if len(du) else int(tot0)
        num_end = int(cnum[-1]) if len(du) else int(num0)
        state.update(
            (int(us[-1]), int(vs[-1]), n_end, tot_end, str(num_end))
        )
        yield pd.DataFrame(
            {
                "event_id": ids[start:],
                "user_id": np.full(len(du), int(key[0]), dtype=np.int64),
                "n_intervals": cn.astype(np.int64),
                "total_us": ctot.astype(np.int64),
                "twap_raw": twap,
            }
        )

    if isinstance(events.schema["ts"].dataType, T.TimestampType):
        us_in = F.unix_micros(F.col("ts"))
    else:
        us_in = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    return (
        events.withWatermark("ts", watermark)
        .filter(F.col(value_col).isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            us_in.cast("long").alias("__us"),
            F.round(F.col(value_col) * 10000).cast("long").alias("__v"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def streaming_kll_quantile(
    events: DataFrame,
    *,
    k: int = 256,
    seed: str = "kll0",
    group_col: str = "event_type",
    value_col: str = "value",
    tag_col: str = "event_id",
    watermark: str = "365 days",
) -> DataFrame:
    """Streaming KLL-STYLE quantile sketch — the stateful twin of the
    batch `operators/sketch.py:kll_quantile_rollup` and the quantile
    axis next to :func:`streaming_kmv_distinct` (distinct) and
    :func:`streaming_cms` (frequency): per-group state is the ≤ k
    survivor rows at content-addressed geometric levels plus the
    adaptive threshold T, merged incrementally each micro-batch.
    Because the sketch is a deterministic function of the ROW SET
    (merge-of-partials == direct, the q102 theorem with the carried T
    as the merge floor), the final state is INDEPENDENT of batch
    boundaries and arrival order — so a FULL value oracle exists (the
    batch sketch over the same rows), not a tolerance band.

    Level assignment (md5 trailing-zero bits) runs JVM-SIDE before the
    stateful operator; the Arrow-batched fold only appends rows at
    level ≥ T, recounts ≤ 53 level buckets, prunes, and reads the
    three rank statistics off the ≤ k sorted survivors.  Emits
    (g, n_seen, t_lvl, m_kept, q25/q50/q75_est) per updated group per
    batch — n_seen strictly increases, so the final sketch row per
    group is the max-n_seen one.  State is O(k) doubles+strings per
    group regardless of stream size; NULL values are excluded from the
    sketch domain (the batch filter), NaN sorts after every value in
    both engines and the fold's (isnan, val, tag) key mirrors that."""
    if not events.isStreaming:
        raise ValueError(
            "streaming_kll_quantile needs a streaming DataFrame; use "
            "operators.sketch.kll_quantile_rollup for batch"
        )
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x1f", F.lit(seed), F.col(tag_col).cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        + 1
    )
    hashed = (
        events.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("g"),
            F.col(tag_col).cast("string").alias("tag"),
            F.col(value_col).cast("double").alias("val"),
            h.alias("h"),
            *(["ts"] if "ts" in events.columns else []),
        )
        .withColumn("lvl", F.expr("bit_count((h & -h) - 1)"))
    )

    out_schema = T.StructType(
        [
            T.StructField("g", T.StringType(), False),
            T.StructField("n_seen", T.LongType(), False),
            T.StructField("t_lvl", T.IntegerType(), False),
            T.StructField("m_kept", T.LongType(), False),
            T.StructField("q25_est", T.DoubleType(), True),
            T.StructField("q50_est", T.DoubleType(), True),
            T.StructField("q75_est", T.DoubleType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("vals", T.ArrayType(T.DoubleType()), False),
            T.StructField("tags", T.ArrayType(T.StringType()), False),
            T.StructField("lvls", T.ArrayType(T.IntegerType()), False),
            T.StructField("t", T.IntegerType(), False),
            T.StructField("n", T.LongType(), False),
        ]
    )

    def update(key, pdfs, state):
        import math

        import pandas as pd

        vals, tags, lvls, t, n = (
            state.get if state.exists else ([], [], [], 0, 0)
        )
        rows = list(zip(vals, tags, lvls))
        for pdf in pdfs:
            n += len(pdf)
            for v, tg, lv in zip(pdf["val"], pdf["tag"], pdf["lvl"]):
                lv = int(lv)
                if lv >= t:  # below the carried floor can never survive
                    rows.append((float(v), tg, lv))
        # recompute the canonical threshold over the survivor union
        # (floor = carried t; identical to the batch merge stage)
        if len(rows) > k:
            cnt: dict[int, int] = {}
            for _, _, lv in rows:
                cnt[lv] = cnt.get(lv, 0) + 1
            cum = 0
            for lv in range(max(cnt), t - 1, -1):
                cum += cnt.get(lv, 0)
                if cum > k:  # first from the top = deepest over-capacity
                    t = lv + 1
                    break
            rows = [r for r in rows if r[2] >= t]
        state.update(
            (
                [v for v, _, _ in rows],
                [tg for _, tg, _ in rows],
                [lv for _, _, lv in rows],
                t,
                n,
            )
        )
        m = len(rows)
        # NaN must compare EQUAL among NaNs so the tag tiebreak applies
        # (python tuple compare stops at nan!=nan and falls back to
        # arrival order; Spark's ORDER BY val, tag groups NaNs and then
        # orders by tag) — normalize NaN keys to a constant first.
        srt = sorted(
            rows,
            key=lambda r: (
                math.isnan(r[0]),
                0.0 if math.isnan(r[0]) else r[0],
                r[1],
            ),
        )
        qs = [
            srt[(m - 1) * num // den][0] if m else None
            for num, den in ((1, 4), (1, 2), (3, 4))
        ]
        yield pd.DataFrame(
            {
                "g": [key[0]],
                "n_seen": [n],
                "t_lvl": [t],
                "m_kept": [m],
                "q25_est": [qs[0]],
                "q50_est": [qs[1]],
                "q75_est": [qs[2]],
            }
        )

    return (
        hashed.withWatermark("ts", watermark)
        .groupBy("g")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", "NoTimeout"
        )
    )
