#!/usr/bin/env python
"""Count Spark JOBS (and wall time) per registry entry — the iterative
graph family runs at the local scheduler floor, so the number of jobs an
entry triggers (checkpoint materializations, convergence probes, the
final action) is the structural metric its cost scales with, and unlike
wall time it is exact under ambient load.

Usage: python scripts/probe_job_counts.py SF_DIR SELECTOR [SELECTOR...]
A selector is a full entry name (``g07_bfs_length``) or a family prefix
of the entry id: ``g`` selects g01..g34 (not ga*), ``ga`` the GraphAr
entries, ``q9`` q90..q99.  Prints one JSON line: {"sf_dir": ...,
"cores": N, "entries": {name: {"jobs": N, "sec": t}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def select(registry: list[str], selectors: list[str]) -> list[str]:
    """Registry names matching any selector, in registry order."""

    def hit(name: str, sel: str) -> bool:
        entry_id = name.split("_", 1)[0]
        rest = entry_id[len(sel):]
        return name == sel or (entry_id.startswith(sel) and (rest == "" or rest.isdigit()))

    names = [n for n in registry if any(hit(n, s) for s in selectors)]
    if not names:
        raise SystemExit(f"no registry entry matches {selectors}")
    return names


def main() -> None:
    sf_dir = sys.argv[1]
    if len(sys.argv) < 3:
        raise SystemExit("usage: probe_job_counts.py SF_DIR SELECTOR [SELECTOR...]")

    import __spark_entry__ as E
    from duckdb_graphar_spark.session import get_spark

    spark = get_spark("probe-job-counts")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    qs = E.queries()
    names = select(sorted(qs), sys.argv[2:])

    out: dict[str, dict] = {}
    for name in names:
        print(f"[probe] {name}", file=sys.stderr, flush=True)
        # warm rep (codegen + page cache) outside the counted group
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        group = f"probe-{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        sec = time.time() - t0
        # PySpark's SparkContext has no clearJobGroup wrapper (the typed
        # JVM API does) — clear via the JVM context rather than passing
        # Nones to setJobGroup, which expects strings
        sc._jsc.clearJobGroup()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        out[name] = {"jobs": len(jobs), "sec": round(sec, 3)}
        print(f"[probe] {name}: jobs={len(jobs)} sec={sec:.2f}", file=sys.stderr, flush=True)

    cores = sc.defaultParallelism
    print(json.dumps({"sf_dir": sf_dir, "cores": cores, "entries": out}))


if __name__ == "__main__":
    main()
