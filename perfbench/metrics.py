"""Metric names and units, and how a run's records become metrics.

Every workload reports every metric.  A per-layer metric of a layer the
workload does not exercise (the writer on ``stream_events``, the stream
layer on the graph workloads) reads 0.
"""

from __future__ import annotations

from perfbench import stats

END_TO_END = {
    "setup_s": "s",
    "heap_live_mb": "MB",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "pass_s": "s",
}

POINT_OPS = ("vertex", "neighbors", "sql_neighbors", "two_hop", "path_exist")
PIPELINES = ("tumbling_window_agg", "stateful_dedup", "stateful_user_totals")
STREAM_FIELDS = {
    "batch_p50_ms": "ms",
    "batches": "count",
    "planning_p50_ms": "ms",
    "add_batch_p50_ms": "ms",
    "wal_p50_ms": "ms",
    "commit_p50_ms": "ms",
    "state_rows": "count",
    "shuffle_partitions": "count",
}
SPARK_PER_PASS = {
    "tasks_per_pass": ("tasks", "count"),
    "task_cpu_s_per_pass": ("cpu_s", "s"),
    "input_mb_per_pass": ("input_mb", "MB"),
    "shuffle_write_mb_per_pass": ("shuffle_write_mb", "MB"),
    "shuffle_read_mb_per_pass": ("shuffle_read_mb", "MB"),
    "spill_mb_per_pass": ("spill_mb", "MB"),
}


def _per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "graphar.write_s": "s",
        "graphar.files_written": "count",
        "graphar.mb_written": "MB",
        "graphar.load_ms": "ms",
        "graphar.attach_ms": "ms",
        "reader.build_p50_ms": "ms",
    }
    units.update({f"op.{op}.p50_ms": "ms" for op in POINT_OPS})
    units["op.sql_neighbors.errors"] = "count"
    units.update(
        {
            "spark.jobs_per_op": "count",
            "spark.jobs_per_pass": "count",
            "spark.ms_per_job": "ms",
            "spark.busy_share": "ratio",
        }
    )
    units.update({f"spark.{k}": unit for k, (_, unit) in SPARK_PER_PASS.items()})
    for p in PIPELINES:
        units.update({f"stream.{p}.{k}": unit for k, unit in STREAM_FIELDS.items()})
    units["stream.events_per_s"] = "1/s"
    units["process.peak_pss_mb"] = "MB"
    units["process.jvm_pss_mb"] = "MB"
    units["process.py_pss_mb"] = "MB"
    units["error_rate"] = "ratio"
    units.update({f"traced.{k}": unit for k, unit in END_TO_END.items()})
    return units


PER_LAYER = _per_layer_units()


def end_to_end(records: list[dict], setup_s: float, heap_live_mb: float) -> dict[str, float]:
    ok = [r["latency_s"] for r in records if r["ok"]] or [r["latency_s"] for r in records]
    per_round: dict[int, float] = {}
    for r in records:
        per_round[r["round"]] = per_round.get(r["round"], 0.0) + r["latency_s"]
    return {
        "setup_s": setup_s,
        "heap_live_mb": heap_live_mb,
        # ops issued per second spent inside program calls
        "ops_per_s": len(records) / sum(r["latency_s"] for r in records),
        # percentiles over the ops that returned a correct answer
        "latency_p50_ms": stats.percentile(ok, 50) * 1000.0,
        "latency_p90_ms": stats.percentile(ok, 90) * 1000.0,
        "pass_s": stats.median(per_round.values()),
    }


def _p50(xs) -> float:
    xs = [x for x in xs if x is not None]
    return stats.median(xs) if xs else 0.0


def per_layer(
    records: list[dict],
    setup: dict[str, float],
    probes: dict[str, int],
    session_s: float,
    pss_mb: dict[str, float],
    stream_batches: dict[str, list[dict]],
    slots: int,
    e2e: dict[str, float],
) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    for key, field in (
        ("graphar.write_s", "write_s"),
        ("graphar.files_written", "files"),
        ("graphar.mb_written", "mb"),
        ("graphar.load_ms", "load_ms"),
        ("graphar.attach_ms", "attach_ms"),
    ):
        m[key] = setup.get(field, 0.0)
    m["reader.build_p50_ms"] = _p50(r["build_s"] for r in records) * 1000.0
    by_op: dict[str, list[dict]] = {}
    for r in records:
        by_op.setdefault(r["op"], []).append(r)
    for op in POINT_OPS:
        m[f"op.{op}.p50_ms"] = _p50(r["latency_s"] for r in by_op.get(op, []) if r["ok"]) * 1000.0
    # timed sql_neighbors ops that failed, plus the untimed probes of
    # zero-out-degree vertices that raised or answered wrongly
    m["op.sql_neighbors.errors"] = sum(
        1 for r in by_op.get("sql_neighbors", []) if not r["ok"]
    ) + probes.get("sql_neighbors.errors", 0)

    rounds: dict[int, list[dict]] = {}
    for r in records:
        rounds.setdefault(r["round"], []).append(r)
    jobs = sum(r.get("jobs", 0) for r in records)
    wall = sum(r["latency_s"] for r in records)
    m["spark.jobs_per_op"] = jobs / len(records)
    m["spark.jobs_per_pass"] = _p50(sum(r.get("jobs", 0) for r in rs) for rs in rounds.values())
    m["spark.ms_per_job"] = wall * 1000.0 / jobs if jobs else 0.0
    m["spark.busy_share"] = sum(r.get("run_ms", 0.0) for r in records) / (wall * 1000.0 * slots)
    for name, (field, _) in SPARK_PER_PASS.items():
        m[f"spark.{name}"] = _p50(sum(r.get(field, 0.0) for r in rs) for rs in rounds.values())

    events = sum(r.get("events", 0) for r in records if r["ok"])
    stream_wall = sum(r["latency_s"] for r in records if r.get("events"))
    m["stream.events_per_s"] = events / stream_wall if stream_wall else 0.0
    for p, batches in stream_batches.items():
        drives = by_op.get(p, [])
        dur = [b["duration"] for b in batches]
        m[f"stream.{p}.batch_p50_ms"] = _p50(d.get("triggerExecution") for d in dur)
        m[f"stream.{p}.batches"] = len(batches) / len(drives) if drives else 0.0
        m[f"stream.{p}.planning_p50_ms"] = _p50(d.get("queryPlanning") for d in dur)
        m[f"stream.{p}.add_batch_p50_ms"] = _p50(d.get("addBatch") for d in dur)
        m[f"stream.{p}.wal_p50_ms"] = _p50(d.get("walCommit") for d in dur)
        m[f"stream.{p}.commit_p50_ms"] = _p50(b["commit_ms"] for b in batches)
        m[f"stream.{p}.state_rows"] = _p50(b["state_rows"] for b in batches if b["last"])
        m[f"stream.{p}.shuffle_partitions"] = max((b["shuffle_partitions"] for b in batches), default=0)
    m["process.peak_pss_mb"] = pss_mb["total"]
    m["process.jvm_pss_mb"] = pss_mb["jvm"]
    m["process.py_pss_mb"] = pss_mb["py"]
    m["error_rate"] = sum(1 for r in records if not r["ok"]) / len(records)
    m.update({f"traced.{k}": v for k, v in e2e.items()})
    return m


def as_result(metrics: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    return {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}
