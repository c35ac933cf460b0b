#!/usr/bin/env python
"""Measure the st20-vs-st21 state-size claim directly: an ALL-ANTI
stream (every key only ever sees lefts) drives the unbounded anti
join's pending state to the full left count, while the horizon mode's
EventTimeTimeout eviction holds state at the last-T window.  The probe
stages N time-split micro-batches plus two watermark nudges, runs BOTH
modes over the same files, and reads `stateOperators.numRowsTotal`
from each query's final progress — the number a state-store OOM is
made of.

Usage: python scripts/probe_anti_state_bound.py [n_events] [n_batches]
Prints one JSON line.
"""

import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from duckdb_graphar_spark.session import get_spark
from duckdb_graphar_spark.streaming.ops import (
    _drive_stream,
    read_events_stream,
    stage_event_batches,
    stream_stream_anti_join,
)


def _run_collect_state(stream_df, name, mode):
    q = _drive_stream(stream_df, lambda w: w.format("memory").queryName(name), mode=mode)
    prog = q.lastProgress
    if prog and prog.get("stateOperators"):
        return max(op.get("numRowsTotal", 0) for op in prog["stateOperators"])
    return 0


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark("anti-state-probe")
    spark.sparkContext.setLogLevel("ERROR")

    base = dt.datetime(2024, 1, 1)
    # every key views once, nobody purchases — the pure-anti worst case;
    # one event per minute so a 1-hour horizon covers ~60 events
    rows = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        (F.lit(base) + F.make_interval(mins=F.col("id").cast("int")))
        .cast("timestamp_ntz")
        .alias("ts"),
        F.col("id").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("").alias("props"),
    )
    nudges = spark.createDataFrame(
        [
            (10**9 + i, base + dt.timedelta(days=3650 + i), 10**9 + i,
             "view", 0.0, "")
            for i in range(2)
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )

    stage = tempfile.mkdtemp(prefix="anti_state_probe_")
    out = {}
    try:
        per = n_events // n_batches
        stage_event_batches(
            [
                rows.filter(
                    (F.col("event_id") >= i * per)
                    & ((F.col("event_id") < (i + 1) * per) if i < n_batches - 1 else True)
                )
                for i in range(n_batches)
            ]
            + [nudges.filter(F.col("event_id") == 10**9 + i) for i in range(2)],
            stage,
        )

        for label, kwargs in (
            ("unbounded_st20", {}),
            (
                "horizon_1h_st21",
                {"horizon_seconds": 3600, "watermark": "30 minutes"},
            ),
        ):
            t1 = time.time()
            stream = read_events_stream(spark, stage, max_files=1)
            state_rows = _run_collect_state(
                stream_stream_anti_join(stream, **kwargs),
                f"anti_probe_{label}",
                "update",
            )
            out[label] = {
                "final_state_rows": state_rows,
                "wall_sec": round(time.time() - t1, 3),
            }
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    out.update(
        {
            "n_left_events": n_events,
            "n_batches": n_batches + 2,
            "note": (
                "all-anti fixture (every key views, none purchase): the"
                " unbounded mode must HOLD every pending left (state ="
                " result size); the horizon mode's watermark eviction"
                " drops finalized verdicts, so its final state is the"
                " not-yet-watermarked tail only"
            ),
        }
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
