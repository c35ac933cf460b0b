#!/usr/bin/env python
"""Streaming-lane pass audit (r13, VERDICT item 7): for every st entry,
capture the per-micro-batch progress events via a StreamingQueryListener
while the entry runs, and report the structural costs the wall clock is
made of:

- n_batches          — micro-batches that read input (numInputRows > 0); no-data
                       batches are left out, their number depends on timing
- input_rows         — total numInputRows across batches
- n_state_ops        — state operators in the query
- state_partitions   — state-store instances per state op (== the
                       shuffle-partition count baked into the stream)
- commit_ms          — Σ stateOperators[].commitTimeMs across batches:
                       the state-store commit floor (one commit per
                       store instance per batch)
- batch_ms           — Σ triggerExecution durations
- sec                — wall time of the entry call

The avoidable-re-read check: a file-source stream reads each source file
exactly once by construction, so unlike the batch lane the corpus-pass
meter cannot exceed 1.0 for the stream side; what CAN repeat is the
STATIC side of stream-static joins (re-planned per micro-batch) and the
state-store commit machinery (n_state_ops x state_partitions x
n_batches commits).  This audit quantifies both.

Usage: python scripts/audit_streaming.py SF_DIR [ENTRY...]
Prints one JSON line: {"sf_dir": ..., "entries": {name: {...}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:]

    import __spark_entry__ as E
    from pyspark.sql.streaming import StreamingQueryListener
    from duckdb_graphar_spark.session import get_spark

    spark = get_spark("audit-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    if not names:
        names = [n for n in qs if n.startswith("st")]

    progresses: list[dict] = []

    class _Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            try:
                progresses.append(json.loads(event.progress.json))
            except Exception:
                pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Capture())

    out: dict[str, dict] = {}
    for name in names:
        print(f"[audit-st] {name}", file=sys.stderr, flush=True)
        # warm rep: staging + codegen outside the audited run
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        progresses.clear()
        t0 = time.time()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        sec = time.time() - t0
        # listener events are delivered asynchronously — drain briefly
        deadline = time.time() + 3.0
        snap = list(progresses)
        while time.time() < deadline:
            time.sleep(0.2)
            if len(progresses) == len(snap) and progresses:
                break
            snap = list(progresses)
        batches = list(progresses)
        n_state_ops = 0
        state_parts = 0
        commit_ms = 0
        rows_updated = 0
        state_rows = 0
        batch_ms = 0
        input_rows = 0
        for p in batches:
            sos = p.get("stateOperators") or []
            n_state_ops = max(n_state_ops, len(sos))
            for so in sos:
                commit_ms += so.get("commitTimeMs") or 0
                rows_updated += so.get("numRowsUpdated") or 0
                state_rows = max(state_rows, so.get("numRowsTotal") or 0)
                state_parts = max(
                    state_parts, so.get("numShufflePartitions") or 0
                )
            batch_ms += (p.get("durationMs") or {}).get("triggerExecution") or 0
            input_rows += p.get("numInputRows") or 0
        out[name] = {
            "sec": round(sec, 3),
            "n_batches": sum(1 for p in batches if (p.get("numInputRows") or 0) > 0),
            "input_rows": input_rows,
            "n_state_ops": n_state_ops,
            "state_partitions": state_parts,
            "commit_ms": commit_ms,
            "rows_updated": rows_updated,
            "max_state_rows": state_rows,
            "batch_ms": batch_ms,
        }
        print(f"[audit-st] {name}: {out[name]}", file=sys.stderr, flush=True)

    print(json.dumps({"sf_dir": sf_dir, "entries": out}))


if __name__ == "__main__":
    main()
