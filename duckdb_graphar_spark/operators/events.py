"""Event-sequence analytics: funnel conversion and SCD2 state intervals.

Both are per-entity ordered-sequence operators over an event log — the
product-analytics / CDC-warehousing shapes a training-data platform runs
next to its corpus jobs.  Scale shape for both: ONE hash shuffle on the
entity key; everything after is row-local (a fold over the entity's
sorted events) or a within-partition window sort.  No self-joins, no
per-stage re-scans — at 100 TB the log is touched once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def funnel(
    df: DataFrame,
    stages: list[str],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_events_per_user: int = 1_000_000,
    max_gap_us: int | None = None,
) -> DataFrame:
    """Ordered funnel conversion: per user, how far through ``stages``
    the event sequence progresses.  Stage i+1 counts only if an event of
    that type occurs STRICTLY after the event that completed stage i
    (ties at the same timestamp do not advance — pinned semantics, so
    within-timestamp event order is irrelevant and the result is
    deterministic).  Returns (user, stages_completed, completed_at)
    where completed_at is the timestamp of the last advancing event
    (NULL when stages_completed = 0).

    ``max_gap_us`` adds the CONVERSION-WINDOW semantics every product
    funnel eventually needs: stage i+1 additionally must occur within
    that many microseconds of the stage-i completion (a purchase three
    weeks after the click is not attributable to it).  Anchors stay
    greedy-earliest like the unbounded funnel — equivalent to the
    staged-min construction with the window bound folded into each
    stage's candidate set, which is what the SQL oracle computes.

    One groupBy(user) shuffle; the per-user fold is a single
    F.aggregate over the time-sorted event structs — equivalent to the
    staged-min construction (t1 = first stage-0 event, t2 = first
    stage-1 event after t1, …) which is what the SQL oracle computes,
    but the fold reads the log ONCE instead of once per stage.

    ``max_events_per_user`` is the hot-key safety valve: a pathological
    user (bot, test account) with 10⁸ events would otherwise become a
    single multi-GB collect_list row no salting can split — the
    likeliest warehouse-family OOM at 100× scale.  Only the EARLIEST
    ``max_events_per_user`` events per user (ts order, ties by event
    type) are considered; the cap is enforced with a row_number filter
    BEFORE the collect (same user-hash partitioning, so no extra
    shuffle — the sort runs in the exchange Spark already plans), which
    bounds the array as it is built rather than after.  The default is
    far above any real user's event count, so normal results are
    unchanged; capped users see a funnel over their first
    ``max_events_per_user`` events.
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    if max_events_per_user < 1:
        raise ValueError("max_events_per_user must be >= 1")
    if max_gap_us is not None and max_gap_us < 1:
        raise ValueError("max_gap_us must be >= 1")
    stage_arr = F.array(*[F.lit(s) for s in stages])
    flat = df.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(type_col).alias("et"),
    )
    wcap = Window.partitionBy("user_id").orderBy("ts", "et")
    ev = (
        flat.withColumn("__rn", F.row_number().over(wcap))
        .filter(F.col("__rn") <= max_events_per_user)
        .select("user_id", F.struct("ts", "et").alias("__e"))
    )
    seq = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list("__e")).alias("__seq")
    )
    # fold accumulator: (stage reached so far, ts of the advancing event).
    # element_at is 1-based; stage_arr is a tiny literal array, so the
    # lookup inside the interpreted lambda is O(|stages|) on k ints.
    ts_type = df.schema[ts_col].dataType.simpleString()
    init = F.struct(
        F.lit(0).alias("stage"), F.lit(None).cast(ts_type).alias("ts")
    )

    def _within_gap(acc, e):
        if max_gap_us is None:
            return F.lit(True)
        # integer µs difference — timestamp_diff accepts TIMESTAMP_NTZ
        # (unix_micros does not) and replays as epoch_us arithmetic in
        # the oracle
        return F.timestamp_diff("MICROSECOND", acc["ts"], e["ts"]) <= F.lit(
            max_gap_us
        )

    step = lambda acc, e: F.when(
        (acc["stage"] < F.lit(len(stages)))
        & (e["et"] == F.element_at(stage_arr, acc["stage"] + 1))
        & (acc["ts"].isNull() | ((e["ts"] > acc["ts"]) & _within_gap(acc, e))),
        F.struct(
            (acc["stage"] + 1).alias("stage"), e["ts"].alias("ts")
        ),
    ).otherwise(acc)
    done = F.aggregate(F.col("__seq"), init, step)
    return seq.select(
        "user_id",
        done["stage"].alias("stages_completed"),
        done["ts"].alias("completed_at"),
    )


def scd2_intervals(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_col: str = "event_id",
    weight_col: str | None = None,
) -> DataFrame:
    """Collapse an event log into SCD-type-2 validity intervals: one row
    per consecutive RUN of the same state per user, with
    (state, valid_from, valid_to, n_events); valid_to is the start of
    the next run (NULL for the current state) — the half-open
    [valid_from, valid_to) convention of warehouse dimension tables.

    Classic gaps-and-islands: within each user's time-ordered events,
    a run boundary is ``state != lag(state)``; the running count of
    boundaries labels the island; one groupBy collapses it.  Ordering
    ties on ts break by the unique event id, so runs are deterministic.
    All three windows + the final groupBy share the user hash
    partitioning — Spark plans ONE exchange, then sorts per partition.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    cols = [user_col, ts_col, state_col, id_col] + (
        [weight_col] if weight_col else []
    )
    runs = (
        df.select(*cols)
        .withColumn(
            "__chg",
            F.when(
                F.lag(state_col).over(w).isNull()
                | (F.col(state_col) != F.lag(state_col).over(w)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("__run", F.sum("__chg").over(w))
    )
    collapsed = runs.groupBy(user_col, "__run").agg(
        F.min(state_col).alias("state"),
        F.min(ts_col).alias("valid_from"),
        (
            F.sum(weight_col) if weight_col else F.count(F.lit(1))
        ).cast("long").alias("n_events"),
    )
    w2 = Window.partitionBy(user_col).orderBy("__run")
    return collapsed.select(
        F.col(user_col),
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


def cohort_retention(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bucket_seconds: int = 604_800,
) -> DataFrame:
    """Cohort retention triangle: bucket every user into the cohort of
    their FIRST event (epoch-floored week by default), then for each
    (cohort, week-offset) count the distinct users active in that
    offset week → (cohort_start ts, week_offset, n_users).

    Scale shape: one groupBy(user) min(ts) for the cohort table, one
    hash join back on the user key (both sides shuffle on user — AQE
    broadcasts the cohort side when it fits), then distinct users via
    groupBy(cohort, offset, user) FOLLOWED BY groupBy(cohort, offset)
    count — two map-combinable aggregates instead of a count_distinct
    Expand, so partials collapse before the wire at every step.  The
    log is touched once."""
    sec = F.lit(int(bucket_seconds))
    ev = df.select(
        F.col(user_col).alias("__u"),
        F.floor(F.unix_timestamp(ts_col) / sec).alias("__wk"),
    )
    first = ev.groupBy("__u").agg(F.min("__wk").alias("__cohort"))
    active = (
        ev.join(first, "__u")
        .select("__u", "__cohort", (F.col("__wk") - F.col("__cohort")).alias("__off"))
        .groupBy("__cohort", "__off", "__u")
        .agg(F.lit(1))
    )
    return (
        active.groupBy("__cohort", "__off")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.timestamp_seconds(F.col("__cohort") * sec).alias("cohort_start"),
            F.col("__off").cast("long").alias("week_offset"),
            "n_users",
        )
    )


def session_paths(
    df: DataFrame,
    *,
    k: int = 20,
    prefix_len: int = 3,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Top-``k`` session journey prefixes: sessionize per user
    (gap-based), take each session's first ``prefix_len`` event types
    in (ts, event_id) order, and count the resulting path strings →
    (path, n_sessions), ordered (n desc, path).  The product-analytics
    "user journey" query.

    Scale shape: ONE hash shuffle on the user key; session ids fall out
    of a per-user ordered window (per-key cardinality is a user's
    events — bounded by retention), the path prefix is a row-local
    array_sort + slice over each session's collected (ts, id, type)
    structs, and the count is map-combinable.  Ties inside a timestamp
    break on event_id, so the path strings are deterministic.

    Hot-key safety: only a session's FIRST ``prefix_len`` events can
    affect its path, so a row_number filter per (user, session) drops
    everything after them BEFORE the collect — semantically lossless,
    and a gap-free bot session of 10⁸ events collects ``prefix_len``
    structs instead of a multi-GB array."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    # exact microsecond gap comparison (integer — no fractional-second
    # epoch() divergence between engines)
    gap = F.unix_micros(F.col(ts_col).cast("timestamp")) - F.unix_micros(
        F.lag(ts_col).over(w).cast("timestamp")
    )
    new_sess = F.when(
        F.lag(ts_col).over(w).isNull() | (gap >= gap_seconds * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = df.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.col(type_col).alias("__ty"),
        F.sum(new_sess).over(
            Window.partitionBy(user_col)
            .orderBy(ts_col, id_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("__sid"),
    )
    wsess = Window.partitionBy("__u", "__sid").orderBy("__ts", "__id")
    paths = (
        sess.withColumn("__rk", F.row_number().over(wsess))
        .filter(F.col("__rk") <= prefix_len)
        .groupBy("__u", "__sid")
        .agg(F.collect_list(F.struct("__ts", "__id", "__ty")).alias("__evs"))
        .select(
            F.array_join(
                F.transform(
                    F.slice(F.array_sort("__evs"), 1, prefix_len),
                    lambda e: e["__ty"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(k)
    )


def ohlc_bars(
    df: DataFrame,
    *,
    bucket: str = "hour",
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-series resampling to OHLC bars (the financial/metrics
    downsample): per (key, time bucket) emit open (value of the
    earliest event), high, low, close (value of the latest event) and
    the event count.  Ordering ties inside a timestamp break on the
    unique event id, so open/close are deterministic.

    Scale shape: ONE map-combinable groupBy — open/close are
    ``min_by``/``max_by`` over the (ts, id) struct (partials combine:
    each partition keeps its earliest/latest candidate, the merge picks
    the global one), high/low/count are plain min/max/count.  No
    window sort, no second pass: the log is touched once, unlike the
    naive row_number formulation."""
    ordk = F.struct(F.col(ts_col), F.col(id_col))
    return df.groupBy(
        F.col(key_col), F.date_trunc(bucket, F.col(ts_col)).alias("bucket")
    ).agg(
        F.min_by(F.col(val_col), ordk).alias("open"),
        F.max(val_col).alias("high"),
        F.min(val_col).alias("low"),
        F.max_by(F.col(val_col), ordk).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """INCREMENTAL SCD-type-2 maintenance: apply a CDC batch of new
    events to an existing dimension (the :func:`scd2_intervals` shape)
    WITHOUT recomputing history — the warehouse sibling of cdc.py's
    aggregate/join view maintenance.  Requires every change to be
    newer than the same user's open interval start (true whenever the
    dimension was built from events before a cutoff and the batch is
    the events after it).

    Only each changed user's OPEN row (valid_to NULL) can be affected:
    closed history is immutable.  The open row re-enters the
    gaps-and-islands pass as ONE synthetic weighted prefix event
    (ts = valid_from, weight = its n_events), so a batch whose first
    changes continue the open state EXTENDS the run (same valid_from,
    summed n_events) and a state flip closes it at the right boundary
    — exactly what a full rebuild would produce, which is the oracle.

    Scale shape: O(closed history) is only UNIONED through (never
    shuffled by the windows); the windowed recompute runs over
    |changes| + |changed users| rows; untouched users' rows pass
    through an anti-join untouched."""
    # NULL-SAFE membership joins, for two reasons: (1) a NULL-user batch
    # row must route that user's open row through the recompute exactly
    # like the full rebuild does (plain equi-semi would leave the open
    # row in `keep` AND recompute the batch rows — a duplicated user);
    # (2) plain semi/anti joins make Catalyst infer isnotnull(user_id)
    # on SOME branches and push it into the scan, splitting the shared
    # dim subtree into canonically-different copies — each consumer
    # then re-derives the whole scd2_intervals window chain from the
    # RAW SCAN (the q102 exchange-reuse trap; scripts/
    # audit_corpus_passes.py measured 2 dim passes where 1 suffices).
    changed_users = changes.select(F.col(user_col).alias("__cu")).distinct()
    _m = F.col(user_col).eqNullSafe(F.col("__cu"))
    keep = dim.join(changed_users, _m, "left_anti").unionByName(
        dim.filter(F.col("valid_to").isNotNull()).join(
            changed_users, _m, "left_semi"
        )
    )
    synth = (
        dim.filter(F.col("valid_to").isNull())
        .join(changed_users, _m, "left_semi")
        .select(
            F.col(user_col),
            F.col("valid_from").alias(ts_col),
            F.col("state").alias(state_col),
            # sorts before any real event at an (impossible) equal ts
            F.lit(-1).cast("long").alias(id_col),
            F.col("n_events").alias("__w"),
        )
    )
    ch = changes.select(
        user_col, ts_col, state_col, id_col, F.lit(1).alias("__w")
    )
    recomputed = scd2_intervals(
        synth.unionByName(ch),
        user_col=user_col,
        ts_col=ts_col,
        state_col=state_col,
        id_col=id_col,
        weight_col="__w",
    )
    return keep.unionByName(recomputed)


def sessionize_capped(
    df: DataFrame,
    *,
    gap_seconds: int = 1800,
    max_duration_seconds: int = 86400,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    max_events_per_user: int = 1_000_000,
) -> DataFrame:
    """Sessionization with BOTH break rules real pipelines need: a new
    session starts at an event when the inactivity gap from the
    previous event is ≥ ``gap_seconds`` OR the running session's
    duration would exceed ``max_duration_seconds`` (ts − session_start
    strictly greater) — the cap that keeps a gap-free bot stream from
    producing one unbounded session.  → (user_id, session_id,
    session_start, session_end, n_events), session ids 0-based per
    user in time order.

    The duration rule makes this SEQUENTIAL per user (each break
    depends on the session start chosen by previous breaks — the
    gaps-and-islands window trick CANNOT express it).  It runs as one
    user shuffle into an Arrow-batched ``mapInPandas`` over the
    window-sorted partitions (users contiguous, last user of each
    batch carried forward) whose per-user scan is VECTORIZED: gap
    breaks come from one numpy
    diff, and within each gap-free run the duration breaks are found
    by ``searchsorted`` jumps — cost O(events + sessions·log events)
    per user, emitting one row per SESSION directly (no per-event
    output at all).  An earlier pure-Catalyst fold accumulated the
    per-event assignment with an array-append accumulator, which is
    O(events²) per user because immutable arrays copy on every append
    — the round-8 skew probe measured 64 s for ONE 50k-event hot user;
    this rewrite holds the same fixture at sub-second.  The oracle
    replays the same recurrence with a recursive CTE.
    ``max_events_per_user`` is funnel's hot-key valve (row_number cap
    BEFORE the group, same user-hash exchange)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if gap_seconds < 1 or max_duration_seconds < 1:
        raise ValueError("gap_seconds and max_duration_seconds must be >= 1")
    if max_events_per_user < 1:
        raise ValueError("max_events_per_user must be >= 1")
    gap_us = gap_seconds * 1_000_000
    max_us = max_duration_seconds * 1_000_000
    flat = df.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("eid"),
    )
    # gap/duration arithmetic runs on EPOCH MICROS computed in the Spark
    # plan, not on the tz-naive wall-clock datetimes Arrow hands to
    # pandas: for TimestampType (LTZ) input under a DST session
    # timezone, wall-clock diffs across a transition are off by the DST
    # offset (and wall-clock sort order can even invert at fall-back).
    # unix_micros is instant-exact; NTZ input keeps the literal-epoch
    # diff (no zone to be wrong about).  Output timestamps are SELECTED
    # original values, never arithmetic results.
    if isinstance(flat.schema["ts"].dataType, T.TimestampType):
        us_expr = F.unix_micros(F.col("ts"))
    else:
        us_expr = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    flat = flat.withColumn("__us", us_expr.cast("long"))
    wcap = Window.partitionBy("user_id").orderBy("__us", "eid")
    ev = (
        flat.withColumn("__rn", F.row_number().over(wcap))
        .filter(F.col("__rn") <= max_events_per_user)
        .select("user_id", "ts", "eid", "__us")
    )
    out_schema = T.StructType(
        [
            T.StructField("user_id", flat.schema["user_id"].dataType),
            T.StructField("session_id", T.IntegerType()),
            T.StructField("session_start", flat.schema["ts"].dataType),
            T.StructField("session_end", flat.schema["ts"].dataType),
            T.StructField("n_events", T.LongType()),
        ]
    )

    def fold_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__us", "eid"], kind="mergesort")
        us = pdf["__us"].to_numpy().astype(np.int64)
        n = len(us)
        # session-start candidates from the GAP rule (first event always
        # breaks); between consecutive gap breaks no gap can break, so
        # only the duration rule cuts — by searchsorted jumps
        gaps = np.empty(n, dtype=np.int64)
        gaps[0] = gap_us
        if n > 1:
            gaps[1:] = us[1:] - us[:-1]
        run_starts = np.flatnonzero(gaps >= gap_us)
        run_bounds = np.append(run_starts, n)
        starts: list[int] = []
        for ri in range(len(run_starts)):
            i, end = int(run_bounds[ri]), int(run_bounds[ri + 1])
            while True:
                starts.append(i)
                # first j in (i, end) with us[j] - us[i] > max_us
                # (STRICTLY greater breaks — side='right')
                j = i + int(
                    np.searchsorted(us[i:end], us[i] + max_us, side="right")
                )
                if j >= end:
                    break
                i = j
        b = np.asarray(starts, dtype=np.int64)
        e = np.append(b[1:], n)
        return pd.DataFrame(
            {
                "user_id": np.repeat(pdf["user_id"].iloc[0], len(b)),
                "session_id": np.arange(len(b), dtype=np.int32),
                "session_start": pdf["ts"].iloc[b].reset_index(drop=True),
                "session_end": pdf["ts"].iloc[e - 1].reset_index(drop=True),
                "n_events": (e - b).astype(np.int64),
            }
        )

    # ONE mapInPandas over the window's already-(user, ts, id)-sorted,
    # user-hash-partitioned output instead of groupBy().applyInPandas:
    # the per-GROUP pandas machinery (one Arrow batch + DataFrame
    # construction + schema conversion per user) dominated the entry —
    # 1500 fixture users cost ~5 s of pure invocation overhead against
    # 0.55 s for the whole JVM prefix (guide §4.2: hand WHOLE batches
    # to vectorized code).  Same stage as the window (no new exchange),
    # so each partition arrives sorted with users contiguous; the last
    # user of every batch is carried into the next batch so a user
    # split across Arrow batches folds exactly once.
    # user matches are null-safe: like groupBy().applyInPandas, every
    # null user_id row belongs to one group (NaN != NaN, and None == None
    # is False in pandas comparisons)
    def fold_partition(batches):
        def emit(pdf: pd.DataFrame):
            uids = pdf["user_id"].to_numpy()
            nulls = pdf["user_id"].isna().to_numpy()
            same = (uids[1:] == uids[:-1]) | (nulls[1:] & nulls[:-1])
            bounds = np.flatnonzero(np.r_[True, ~same])
            bounds = np.append(bounds, len(uids))
            out = [
                fold_one(pdf.iloc[int(bounds[i]) : int(bounds[i + 1])])
                for i in range(len(bounds) - 1)
            ]
            return pd.concat(out, ignore_index=True) if out else None

        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            last_uid = pdf["user_id"].iloc[-1]
            if pd.isna(last_uid):
                mask = pdf["user_id"].isna().to_numpy()
            else:
                mask = (pdf["user_id"] == last_uid).to_numpy()
            carry = pdf[mask]
            head = pdf[~mask]
            if len(head):
                r = emit(head)
                if r is not None and len(r):
                    yield r
        if carry is not None and len(carry):
            r = emit(carry)
            if r is not None and len(r):
                yield r

    # the explicit repartition+sort is NOT needed: Exchange(user) →
    # Sort(user, __us, eid) → Window → Filter → Project → MapInPandas
    # is one stage, and narrow operators preserve intra-partition order
    return ev.mapInPandas(fold_partition, out_schema)


def last_touch_attribution(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    view_type: str = "view",
    purchase_type: str = "purchase",
    segment_seconds: int | None = 86_400,
) -> DataFrame:
    """LAST-TOUCH attribution → (purchase_id, user_id,
    attributed_view_id, gap_us): each purchase credits the same user's
    most recent STRICTLY PRECEDING view (ties broken by the shared
    (ts, id) ordering); purchases with no prior view keep NULL credit
    honestly.

    Hot-key design (the q89 skew fix): a naive
    ``PARTITION BY user ORDER BY ts`` running window puts a hot user's
    ENTIRE history in one task — one user owning 50% of a 100 TB log is
    one straggler sort.  Instead the window is SEGMENTED by
    (user, ⌊ts / segment_seconds⌋) with an exact boundary stitch:

    1. within each (user, segment): the running last-preceding-view
       window (state O(1)/row, sort bounded by the segment);
    2. one row per (user, segment): the segment's last view (a
       map-combined MAX of a (ts, id) struct — never an array);
    3. a tiny per-user window over SEGMENTS (≤ days-in-retention rows
       per user, not events) carries the last view of any earlier
       segment;
    4. purchases whose in-segment lookback is empty coalesce to the
       carried value.

    The result is BIT-IDENTICAL to the single-window semantics (the
    most recent preceding view is either in-segment or the last view of
    the nearest earlier segment) while the per-task sort is bounded by
    one user-day.  ``segment_seconds=None`` selects the plain
    single-window plan (one exchange, fastest when keys are uniform)."""
    us_expr = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
    )
    vid = F.when(F.col("__et") == view_type, F.col("__id"))
    vus = F.when(F.col("__et") == view_type, F.col("__us"))
    flat = df.select(
        F.col(user_col).alias("__u"),
        F.col(id_col).alias("__id"),
        F.col(type_col).alias("__et"),
        us_expr.alias("__us"),
    )

    if segment_seconds is None:
        w = (
            Window.partitionBy("__u")
            .orderBy("__us", "__id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        o = flat.withColumn(
            "__avid", F.last(vid, ignorenulls=True).over(w)
        ).withColumn("__avus", F.last(vus, ignorenulls=True).over(w))
    else:
        if segment_seconds < 1:
            raise ValueError("segment_seconds must be >= 1 or None")
        seg_us = segment_seconds * 1_000_000
        flat = flat.withColumn(
            "__seg", F.floor(F.col("__us") / F.lit(seg_us)).cast("long")
        )
        w_in = (
            Window.partitionBy("__u", "__seg")
            .orderBy("__us", "__id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        within = flat.withColumn(
            "__avid_in", F.last(vid, ignorenulls=True).over(w_in)
        ).withColumn("__avus_in", F.last(vus, ignorenulls=True).over(w_in))
        # one row per (user, segment): the segment's LAST view — a
        # map-combined struct MAX, so the hot user's 10^8 events become
        # one partial per input partition, never a buffered window.
        # ONE unfiltered aggregate covers every (user, segment) AND the
        # per-segment last view in the same pass: max() skips the NULLs
        # the `when` leaves on non-view rows, so view-less segments
        # surface with __lv NULL — the old two-consumer form (a
        # view-filtered groupBy LEFT-joined onto a distinct segment
        # list) cost a second corpus pass for the distinct, and the
        # pushed event_type filter split the scan subtree besides
        # (scripts/audit_corpus_passes.py measured 3 passes; this
        # shape measures 2).
        segs = flat.groupBy("__u", "__seg").agg(
            F.max(
                F.when(F.col("__et") == view_type, F.struct("__us", "__id"))
            ).alias("__lv")
        )
        w_seg = (
            Window.partitionBy("__u")
            .orderBy("__seg")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carried = segs.withColumn(
            "__pv", F.last("__lv", ignorenulls=True).over(w_seg)
        ).select("__u", "__seg", "__pv")
        o = within.join(carried, ["__u", "__seg"]).select(
            "__u",
            "__id",
            "__et",
            "__us",
            F.coalesce("__avid_in", F.col("__pv.__id")).alias("__avid"),
            F.coalesce("__avus_in", F.col("__pv.__us")).alias("__avus"),
        )

    return o.filter(F.col("__et") == purchase_type).select(
        F.col("__id").alias("purchase_id"),
        F.col("__u").alias(user_col),
        F.col("__avid").cast("long").alias("attributed_view_id"),
        (F.col("__us") - F.col("__avus")).cast("long").alias("gap_us"),
    )


def linear_attribution(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    view_type: str = "view",
    purchase_type: str = "purchase",
    segment_seconds: int | None = 86_400,
) -> DataFrame:
    """LINEAR multi-touch attribution, since-last-conversion scope →
    (purchase_id, user_id, view_id, n_touches, credit): each view
    belongs to exactly ONE purchase (the first purchase AT-OR-AFTER it
    on the shared (ts, id) ordering), each purchase splits one unit of
    credit equally across its views; views after the user's last
    purchase are honestly unattributed (dropped).

    Same segmented-window + boundary-stitch design as
    :func:`last_touch_attribution`, mirrored forward: within-segment
    FIRST-following-purchase running window, per-segment first
    purchase (map-combined struct MIN), a per-user window over
    segments ordered DESC carrying the nearest LATER segment's first
    purchase, coalesce.  ``n_touches`` comes from a groupBy + join
    (map-side combine), NOT a count window — an unordered count window
    buffers the whole (user, purchase) partition, which is the same
    hot-key trap the segmentation just removed.  Bit-identical to the
    single-window semantics; ``segment_seconds=None`` selects the
    plain single-window plan."""
    us_expr = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
    )
    pid = F.when(F.col("__et") == purchase_type, F.col("__id"))
    flat = df.select(
        F.col(user_col).alias("__u"),
        F.col(id_col).alias("__id"),
        F.col(type_col).alias("__et"),
        us_expr.alias("__us"),
    )

    # "first purchase AT-OR-AFTER" is expressed as a DESC-ordered
    # RUNNING frame (last non-null over [unbounded preceding, current])
    # rather than the literal [current, unbounded following] frame:
    # identical row set and semantics, but Spark evaluates unbounded-
    # FOLLOWING frames by re-scanning the tail for EVERY row — O(rows²)
    # per partition (measured 46 s on a 500k-event hot user even with
    # day segments) — while running frames are incremental O(rows).
    if segment_seconds is None:
        wf = (
            Window.partitionBy("__u")
            .orderBy(F.col("__us").desc(), F.col("__id").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        o = flat.withColumn(
            "__pid", F.last(pid, ignorenulls=True).over(wf)
        )
    else:
        if segment_seconds < 1:
            raise ValueError("segment_seconds must be >= 1 or None")
        seg_us = segment_seconds * 1_000_000
        flat = flat.withColumn(
            "__seg", F.floor(F.col("__us") / F.lit(seg_us)).cast("long")
        )
        w_in = (
            Window.partitionBy("__u", "__seg")
            .orderBy(F.col("__us").desc(), F.col("__id").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        within = flat.withColumn(
            "__pid_in", F.last(pid, ignorenulls=True).over(w_in)
        )
        # one unfiltered aggregate = segment list + per-segment first
        # purchase in the SAME corpus pass (min() skips the when-NULLs
        # on non-purchase rows; purchase-less segments keep __fp NULL)
        # — the filtered-groupBy + distinct + left-join form cost an
        # extra corpus pass and split the scan subtree (the q89 fix)
        segs = flat.groupBy("__u", "__seg").agg(
            F.min(
                F.when(F.col("__et") == purchase_type, F.struct("__us", "__id"))
            ).alias("__fp")
        )
        # DESC over segments: the frame [max-seg .. seg+1]'s LAST
        # non-null is the nearest LATER segment's first purchase
        w_seg = (
            Window.partitionBy("__u")
            .orderBy(F.col("__seg").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carried = segs.withColumn(
            "__np", F.last("__fp", ignorenulls=True).over(w_seg)
        ).select("__u", "__seg", "__np")
        o = within.join(carried, ["__u", "__seg"]).select(
            "__u",
            "__id",
            "__et",
            "__us",
            F.coalesce("__pid_in", F.col("__np.__id")).alias("__pid"),
        )

    v = o.filter(
        (F.col("__et") == view_type) & F.col("__pid").isNotNull()
    ).select(
        F.col("__pid").cast("long").alias("purchase_id"),
        F.col("__u").alias(user_col),
        F.col("__id").cast("long").alias("view_id"),
    )
    n = v.groupBy("purchase_id", user_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_touches")
    )
    return v.join(n, ["purchase_id", user_col]).withColumn(
        "credit", F.lit(1.0) / F.col("n_touches")
    )


def running_distinct(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "event_type",
    segment_seconds: int | None = 86_400,
) -> DataFrame:
    """RUNNING DISTINCT COUNT per key: for every event, how many
    distinct ``value_col`` values the key has produced UP TO AND
    INCLUDING this event on the shared (ts, id) ordering →
    (id, key, n_distinct).

    Spark has no ``COUNT(DISTINCT) OVER`` — and the naive emulation
    (``size(collect_set() OVER running-frame)``) materializes a
    per-row set, O(rows·cardinality) memory in one window buffer.
    The scalable identity: a value's FIRST occurrence per key
    contributes 1, every later occurrence 0, so the running distinct
    count is a RUNNING SUM of first-occurrence flags:

    1. first occurrence per (key, value) = one map-combinable
       ``MIN(struct(ts, id))`` aggregate (never a window);
    2. the flag is an equality test against that min, stamped by a
       hash join (AQE splits a skewed probe side — no sort anywhere);
    3. the running sum uses the SAME (key, day)-segmented window +
       boundary stitch as :func:`last_touch_attribution`: within-
       segment running sum, per-segment totals (map-combined), a tiny
       per-key window over SEGMENTS carrying the earlier-segment
       prefix, one addition.

    Bit-identical to the single-window semantics (integer arithmetic,
    exact stitch); ``segment_seconds=None`` selects the plain
    single-window plan."""
    us_expr = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
    )
    flat = df.select(
        F.col(key_col).alias("__k"),
        F.col(id_col).alias("__id"),
        F.col(value_col).alias("__v"),
        us_expr.alias("__us"),
    )
    firsts = flat.groupBy("__k", "__v").agg(
        F.min(F.struct("__us", "__id")).alias("__fo")
    ).select(
        F.col("__k").alias("__fk"), F.col("__v").alias("__fv"), "__fo"
    )
    # NULL-SAFE stamp join: SQL's window trick counts NULL as its own
    # distinct value (the per-(key, NULL) partition exists), so a plain
    # equi-join — which drops null-valued rows — would silently diverge
    flagged = flat.join(
        firsts,
        (F.col("__k") == F.col("__fk")) & F.col("__v").eqNullSafe(F.col("__fv")),
    ).withColumn(
        "__ff",
        (
            (F.col("__us") == F.col("__fo.__us"))
            & (F.col("__id") == F.col("__fo.__id"))
        ).cast("long"),
    )

    if segment_seconds is None:
        w = (
            Window.partitionBy("__k")
            .orderBy("__us", "__id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = flagged.withColumn("__nd", F.sum("__ff").over(w))
    else:
        if segment_seconds < 1:
            raise ValueError("segment_seconds must be >= 1 or None")
        seg_us = segment_seconds * 1_000_000
        flagged = flagged.withColumn(
            "__seg", F.floor(F.col("__us") / F.lit(seg_us)).cast("long")
        )
        w_in = (
            Window.partitionBy("__k", "__seg")
            .orderBy("__us", "__id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        within = flagged.withColumn("__nd_in", F.sum("__ff").over(w_in))
        segsum = flagged.groupBy("__k", "__seg").agg(
            F.sum("__ff").alias("__ss")
        )
        w_seg = (
            Window.partitionBy("__k")
            .orderBy("__seg")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carried = segsum.withColumn(
            "__pfx", F.coalesce(F.sum("__ss").over(w_seg), F.lit(0))
        ).select("__k", "__seg", "__pfx")
        out = within.join(carried, ["__k", "__seg"]).withColumn(
            "__nd", F.col("__nd_in") + F.col("__pfx")
        )

    return out.select(
        F.col("__id").alias(id_col),
        F.col("__k").alias(key_col),
        F.col("__nd").cast("long").alias("n_distinct"),
    )


def time_decay_attribution(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    view_type: str = "view",
    purchase_type: str = "purchase",
    half_life_seconds: int = 86_400,
    max_halflives: int = 50,
    segment_seconds: int | None = 86_400,
) -> DataFrame:
    """TIME-DECAY multi-touch attribution → (purchase_id, user_id,
    view_id, halflives, weight, credit): same view→purchase scope as
    :func:`linear_attribution` (each view belongs to the first
    purchase at-or-after it on the shared (ts, id) ordering), but
    credit decays by recency — a touch ``n`` half-lives before the
    conversion carries relative weight ``2^-n``.

    Exactness contract: the decay exponent is quantized to WHOLE
    half-lives (``n = gap_us div half_life_us``, capped at
    ``max_halflives``), so every weight is the exact integer
    ``2^(max_halflives - n)`` — the per-purchase normalizer is an
    exact DECIMAL(38,0) sum (order-independent, map-combinable
    groupBy + join, never a window) and ``credit`` is ONE IEEE
    division of two exact integers.  No ``exp()`` anywhere: engines
    disagree on transcendental last-ulps; they cannot disagree on
    integers.  ``max_halflives`` must stay ≤ 62 (shift width); at 50,
    touches ≥ 50 half-lives out share the floor weight 1.

    Scale shape: the view→purchase pairing reuses the segmented
    DESC-running-window + boundary-stitch plan (hot-key safe, no
    unbounded-FOLLOWING frame); the struct payload carries the
    purchase's epoch micros alongside its id so the gap needs no
    second join."""
    if not 0 <= max_halflives <= 62:
        raise ValueError("max_halflives must be in [0, 62]")
    if half_life_seconds < 1:
        raise ValueError("half_life_seconds must be >= 1")
    us_expr = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
    )
    flat = df.select(
        F.col(user_col).alias("__u"),
        F.col(id_col).alias("__id"),
        F.col(type_col).alias("__et"),
        us_expr.alias("__us"),
    )
    pstruct = F.when(
        F.col("__et") == purchase_type, F.struct("__us", "__id")
    )

    if segment_seconds is None:
        wf = (
            Window.partitionBy("__u")
            .orderBy(F.col("__us").desc(), F.col("__id").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        o = flat.withColumn("__p", F.last(pstruct, ignorenulls=True).over(wf))
    else:
        if segment_seconds < 1:
            raise ValueError("segment_seconds must be >= 1 or None")
        seg_us = segment_seconds * 1_000_000
        flat = flat.withColumn(
            "__seg", F.floor(F.col("__us") / F.lit(seg_us)).cast("long")
        )
        w_in = (
            Window.partitionBy("__u", "__seg")
            .orderBy(F.col("__us").desc(), F.col("__id").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        within = flat.withColumn(
            "__p_in", F.last(pstruct, ignorenulls=True).over(w_in)
        )
        # one unfiltered aggregate = segment list + per-segment first
        # purchase in the SAME corpus pass (min() skips the when-NULLs
        # on non-purchase rows; purchase-less segments keep __fp NULL)
        # — the filtered-groupBy + distinct + left-join form cost an
        # extra corpus pass and split the scan subtree (the q89 fix)
        segs = flat.groupBy("__u", "__seg").agg(
            F.min(
                F.when(F.col("__et") == purchase_type, F.struct("__us", "__id"))
            ).alias("__fp")
        )
        w_seg = (
            Window.partitionBy("__u")
            .orderBy(F.col("__seg").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carried = segs.withColumn(
            "__np", F.last("__fp", ignorenulls=True).over(w_seg)
        ).select("__u", "__seg", "__np")
        o = within.join(carried, ["__u", "__seg"]).withColumn(
            "__p", F.coalesce("__p_in", "__np")
        )

    hl_us = half_life_seconds * 1_000_000
    v = (
        o.filter((F.col("__et") == view_type) & F.col("__p").isNotNull())
        .select(
            F.col("__p.__id").cast("long").alias("purchase_id"),
            F.col("__u").alias(user_col),
            F.col("__id").cast("long").alias("view_id"),
            F.least(
                F.expr(f"(__p.__us - __us) DIV {hl_us}"),
                F.lit(max_halflives).cast("long"),
            ).alias("halflives"),
        )
        .withColumn(
            "weight",
            F.expr(
                f"shiftleft(cast(1 as bigint), cast({max_halflives} - halflives as int))"
            ),
        )
    )
    s = v.groupBy("purchase_id", user_col).agg(
        F.sum(F.col("weight").cast("decimal(38,0)")).alias("__sw")
    )
    return v.join(s, ["purchase_id", user_col]).select(
        "purchase_id",
        user_col,
        "view_id",
        "halflives",
        "weight",
        (F.col("weight").cast("double") / F.col("__sw").cast("double")).alias(
            "credit"
        ),
    )


def clamped_running_balance(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    delta_col: str = "delta",
    segment_seconds: int | None = 86_400,
) -> DataFrame:
    """RUNNING BALANCE CLAMPED AT ZERO per key → (id, key, balance):
    ``B_i = max(0, B_{i-1} + delta_i)`` on the shared (ts, id)
    ordering — the inventory/credit-ledger recurrence (stock can't go
    negative, prepaid balances floor at zero) that LOOKS like it needs
    a per-row sequential fold.

    It doesn't: the Lindley/Skorokhod reflection identity solves the
    recurrence in closed form from TWO running windows —

        B_i = S_i − min(0, min_{j≤i} S_j)

    where ``S`` is the plain running sum of deltas (the reflected walk
    equals the free walk minus its running low-water mark below zero).
    So the operator is running-sum + running-min — incremental O(rows)
    frames, no UDF, no recurrence — and, like every per-key scan here,
    both windows are (key, day)-SEGMENTED with an exact stitch: a
    segment's rows see global prefix = carried_sum + local prefix, and
    the global running min is min(carried_min, carried_sum + local
    running min), where carried_min is itself a running min over
    SEGMENT summaries (≤ days-per-key rows).  ``delta_col`` must be
    integral (exact arithmetic end-to-end); bit-identical to the
    single-window plan, which ``segment_seconds=None`` selects."""
    us_expr = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
    )
    flat = df.select(
        F.col(key_col).alias("__k"),
        F.col(id_col).alias("__id"),
        F.col(delta_col).cast("long").alias("__d"),
        us_expr.alias("__us"),
    )

    if segment_seconds is None:
        w = (
            Window.partitionBy("__k")
            .orderBy("__us", "__id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = flat.withColumn("__pre", F.sum("__d").over(w)).withColumn(
            "__runmin", F.min("__pre").over(w)
        )
    else:
        if segment_seconds < 1:
            raise ValueError("segment_seconds must be >= 1 or None")
        seg_us = segment_seconds * 1_000_000
        flat = flat.withColumn(
            "__seg", F.floor(F.col("__us") / F.lit(seg_us)).cast("long")
        )
        w_in = (
            Window.partitionBy("__k", "__seg")
            .orderBy("__us", "__id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        within = flat.withColumn("__lp", F.sum("__d").over(w_in)).withColumn(
            "__lm", F.min("__lp").over(w_in)
        )
        # one summary row per (key, segment): total delta + min local
        # prefix — both map-combinable after the in-segment window
        segsum = within.groupBy("__k", "__seg").agg(
            F.sum("__d").alias("__ss"), F.min("__lp").alias("__sm")
        )
        w_prev = (
            Window.partitionBy("__k")
            .orderBy("__seg")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        # carried_sum = total of all earlier segments; carried_min =
        # min over earlier segments s of (carried_sum before s + s's
        # min local prefix) — the earlier segments' global low-water
        carried = (
            segsum.withColumn(
                "__csum", F.coalesce(F.sum("__ss").over(w_prev), F.lit(0))
            )
            .withColumn(
                "__cmin", F.min(F.col("__csum") + F.col("__sm")).over(w_prev)
            )
            .select("__k", "__seg", "__csum", "__cmin")
        )
        out = (
            within.join(carried, ["__k", "__seg"])
            .withColumn("__pre", F.col("__csum") + F.col("__lp"))
            .withColumn(
                "__runmin",
                F.least(
                    F.coalesce("__cmin", F.col("__csum") + F.col("__lm")),
                    F.col("__csum") + F.col("__lm"),
                ),
            )
        )

    return out.select(
        F.col("__id").alias(id_col),
        F.col("__k").alias(key_col),
        (
            F.col("__pre") - F.least(F.lit(0).cast("long"), F.col("__runmin"))
        ).alias("balance"),
    )
