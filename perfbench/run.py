"""Run one benchmark workload, or repeat runs to measure their spread.

    python3 perfbench/run.py --workload graph_point --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --repeat 10 --workloads graph_point,stream_events --seconds 30

Run from the root of a checkout: the program is imported from there.
The last line of a run's standard output is its result, the line before
it the run's context (environment, versions, box state).
"""

import time

_T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0, help="runs per workload, seeds 1..N")
    ap.add_argument("--workloads", default="", help="comma list for --repeat")
    ap.add_argument("--traced", action="store_true", help="--repeat: also a traced run per seed")
    ap.add_argument("--out", help="--repeat: write every result to this JSON file")
    return ap.parse_args(argv)


def measure(args, work: Path, pinned: dict) -> tuple[dict, dict]:
    from perfbench import box, metrics
    from perfbench.workloads import WARMUP_BASE, WORKLOADS, StreamEvents

    with box.MemorySampler() as mem:
        t_session = time.perf_counter()
        import duckdb_graphar_spark as dgs

        spark = dgs.get_spark("perfbench")
        session_ready = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        counters = listener_events = None
        if args.trace:
            from perfbench import counters as spark_counters

            counters = spark_counters.SparkCounters(spark)
            if isinstance(wl, StreamEvents):
                listener_events = spark_counters.stream_listener(spark)

        t0 = time.perf_counter()
        setup = wl.setup()
        setup["total_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        _rounds(wl, WARMUP_BASE, None, wl.warmup_rounds)
        warmup_s = time.perf_counter() - t0
        # process start to the first timed op (the calibration loop below
        # is the benchmark's own and is left out)
        setup_s = time.perf_counter() - _T_PROCESS
        setup_pss = {k: mem.peak_mb(k) for k in mem.peak}

        calib_before = box.calibration_ms()
        cpu_before = box.cpu_times()
        t_start = time.perf_counter()
        records = _rounds(wl, 0, counters, rounds=max(1, round(args.seconds / wl.round_s)))
        timed_s = time.perf_counter() - t_start
        cpu_after = box.cpu_times()
        calib_after = box.calibration_ms()
    # the memory sampler covered set-up and the timed phase; what follows
    # is the benchmark's own
    live_heap_mb = box.jvm_live_heap_mb(spark)
    probes = wl.probe()  # untimed; counts known defects
    stream_batches = {}
    if listener_events is not None:
        stream_batches = _stream_batches(wl, records, listener_events, counters)
    spark.stop()
    e2e = metrics.end_to_end(records, setup_s, live_heap_mb)
    if args.trace:
        values = metrics.per_layer(
            records,
            setup,
            probes,
            session_ready - t_session,
            {k: mem.peak_mb(k) for k in mem.peak},
            stream_batches,
            int(pinned["SPARK_GRAFT_CPUS"]),
            e2e,
        )
        out_metrics = metrics.as_result(values, metrics.PER_LAYER)
    else:
        out_metrics = metrics.as_result(e2e, metrics.END_TO_END)

    by_op: dict[str, dict] = {}
    for r in records:
        d = by_op.setdefault(
            r["op"], {"attempted": 0, "failed": 0, "wrong": 0, "errors": [], "latency_ms": []}
        )
        d["attempted"] += 1
        d["latency_ms"].append(round(r["latency_s"] * 1000.0, 1))
        d["failed"] += not r["ok"]
        d["wrong"] += r["wrong"]
        if "error" in r and len(d["errors"]) < 3:
            d["errors"].append(r["error"])
    wrong = sum(r["wrong"] for r in records)
    # correct: no op returned a wrong answer, and every op type succeeded
    # at least once (an op that raises is a failure, counted in `failed`)
    correct = wrong == 0 and all(d["failed"] < d["attempted"] for d in by_op.values())
    result = {
        "correct": correct,
        "attempted": len(records),
        "failed": sum(1 for r in records if not r["ok"]),
        "metrics": out_metrics,
    }
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": box.nproc(),
        "ram_mb": round(box.ram_mb(), 1),
        "versions": box.versions(),
        "env": pinned,
        "steal_share": box.steal_share(cpu_before, cpu_after),
        "calibration_ms": {"before": calib_before, "after": calib_after},
        "timed_s": timed_s,
        "rounds": records[-1]["round"] + 1,
        "warmup_s": warmup_s,
        "peak_pss_mb": {"setup": setup_pss, "run": {k: mem.peak_mb(k) for k in mem.peak}},
        "setup": setup,
        "probes": probes,
        "ops": by_op,
        "end_to_end": e2e,
    }
    return result, context


def _rounds(wl, first: int, counters, rounds: int) -> list[dict]:
    """Issue ``rounds`` rounds; op i of the phase gets input ``first + i``.
    Returns one record per op."""
    records: list[dict] = []
    i = first
    for rnd in range(rounds):
        for op in wl.round_order():
            rec = {"op": op, "round": rnd, "index": i, "ok": False, "wrong": False, "build_s": None}
            records.append(rec)
            t0 = time.perf_counter()
            try:
                if counters is None:
                    result, rec["build_s"] = wl.call(op, i)
                    rec["latency_s"] = time.perf_counter() - t0
                else:
                    with counters.op(op, rec):
                        result, rec["build_s"] = wl.call(op, i)
                        rec["latency_s"] = time.perf_counter() - t0
                rec["ok"] = bool(wl.check(op, i, result))
                rec["wrong"] = not rec["ok"]
                rec["events"] = wl.events(op)
            except Exception as exc:  # a failed op is counted, not fatal
                rec.setdefault("latency_s", time.perf_counter() - t0)
                rec["error"] = _describe(exc)
            i += 1
    return records


def _describe(exc: Exception) -> str:
    lines = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {lines[-1][:200] if lines else ''}"


def _stream_batches(wl, records, events, counters) -> dict[str, list[dict]]:
    """Group listener progress by pipeline; add each drive's Spark jobs
    (the query runs them under its run id) to that drive's record."""
    counters.settle()
    per_query: dict[str, list[dict]] = {}
    for ev in events:
        per_query.setdefault(ev["name"], []).append(ev)
    out: dict[str, list[dict]] = {p: [] for p in wl.ops}
    for rec in records:
        name = wl.query_name(rec["op"], rec["index"])
        batches = sorted(per_query.get(name, []), key=lambda b: b["batch_id"])
        for j, b in enumerate(batches):
            b["last"] = j == len(batches) - 1
        out[rec["op"]].extend(batches)
        for run_id in {b["run_id"] for b in batches}:
            jobs, totals = counters.group_totals(run_id)
            rec["jobs"] = rec.get("jobs", 0) + jobs
            for k, v in totals.items():
                rec[k] = rec.get(k, 0.0) + v
    return out


def run_once(args, root: Path) -> int:
    from perfbench import box
    from perfbench.workloads import WORKLOADS

    if not (root / "duckdb_graphar_spark" / "__init__.py").is_file():
        print(f"perfbench: no duckdb_graphar_spark package under {root}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    pinned = box.pin(root, work)
    try:
        result, context = measure(args, work, pinned)
    finally:
        # on every path out: no process of this run outlives it, and none
        # still writes to the work directory when it is removed
        box.stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(box.context_line(**context))
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    root = Path.cwd()
    here = Path(__file__).resolve().parent
    # import the benchmark as a package of the checkout, never its modules bare
    sys.path[:] = [str(root)] + [p for p in sys.path if Path(p or ".").resolve() != here]
    args = parse_args(argv)
    from perfbench import box

    box.become_subreaper()
    if args.repeat:
        from perfbench import repeat

        return repeat.main(args)
    return run_once(args, root)


if __name__ == "__main__":
    sys.exit(main())
