"""Repeat mode: run every workload for seeds 1..N, interleaved, and print
each end-to-end metric's median and quartile spread per workload.

With ``--traced`` each untraced run is followed by a traced run of the
same seed, and the tracing overhead (traced / untraced - 1, median over
seeds) is printed per metric.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

from perfbench import stats
from perfbench.metrics import END_TO_END

RUN = str(Path(__file__).resolve().parent / "run.py")


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed)]
    cmd += ["--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "wall_s": wall,
        "context": json.loads(lines[-2])["context"],
        "result": json.loads(lines[-1]),
    }


def summarize(runs: list[dict]) -> dict[str, dict[str, dict]]:
    out: dict[str, dict[str, dict]] = {}
    for w in dict.fromkeys(r["workload"] for r in runs):
        plain = [r for r in runs if r["workload"] == w and r["trace"] == 0]
        traced = {r["seed"]: r for r in runs if r["workload"] == w and r["trace"] == 1}
        rows = {}
        for m in END_TO_END:
            vals = [r["result"]["metrics"][m]["value"] for r in plain]
            row = {"median": stats.median(vals), "spread": stats.quartile_spread(vals) if len(vals) > 1 else 0.0}
            ratios = [
                traced[r["seed"]]["result"]["metrics"][f"traced.{m}"]["value"] / r["result"]["metrics"][m]["value"] - 1
                for r in plain
                if r["seed"] in traced
            ]
            if ratios:
                row["trace_overhead"] = stats.median(ratios)
            rows[m] = row
        rows["_runs"] = {
            "n": len(plain),
            "wall_s_median": stats.median(r["wall_s"] for r in plain),
            "failed_median": stats.median(r["result"]["failed"] for r in plain),
            "all_correct": all(r["result"]["correct"] for r in plain),
        }
        out[w] = rows
    return out


def main(args) -> int:
    workloads = [w for w in args.workloads.split(",") if w]
    runs = []
    for seed in range(1, args.repeat + 1):
        for w in workloads:
            for trace in (0, 1) if args.traced else (0,):
                r = run_one(w, seed, args.seconds, trace)
                runs.append(r)
                e2e = r["context"]["end_to_end"]
                print(
                    f"{w} seed={seed} trace={trace} wall={r['wall_s']:.1f}s failed={r['result']['failed']} "
                    + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()),
                    flush=True,
                )
    summary = summarize(runs)
    for w, rows in summary.items():
        print(f"\n{w}: {rows['_runs']}")
        for m in END_TO_END:
            row = rows[m]
            extra = f"  trace_overhead={row['trace_overhead']:+.3f}" if "trace_overhead" in row else ""
            print(f"  {m:16s} median={row['median']:.4g}  spread={row['spread']:.3f}{extra}")
    if args.out:
        Path(args.out).write_text(json.dumps({"summary": summary, "runs": runs}, indent=1, default=str))
    return 0
