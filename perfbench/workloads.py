"""The benchmark's workloads.

Each workload is a closed loop with one client: ``call`` issues one op
through the program's public API and waits for its result, ``check``
compares that result with ground truth computed from the generator
arrays.  A round issues every op type once, in a seeded order.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

import numpy as np
import pandas as pd

from perfbench import gen

SRC, DST, VID = "_graphArSrcIndex", "_graphArDstIndex", "_graphArVertexIndex"
TRIPLE = ("V", "e", "V")
EDGE_VIEW = "V_e_V_edge"  # registered by graphar.attach

# Warm-up ops get indices from here on, far beyond the few hundred ops a
# timed phase issues, so they never touch the timed ops' inputs.
WARMUP_BASE = 16_384

# One chunk layout for every graph the benchmark writes.  The aligned
# chunk gives graph_point several times more offset chunks than the
# reader's 16-entry offset cache holds.
LAYOUT = {"vertex_chunk_size": 1024, "edge_chunk_size": 4096, "aligned_chunk_size": 512}


def _dir_size(path: Path) -> tuple[int, float]:
    files, size = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size / float(1 << 20)


class Workload:
    name = ""
    ops: tuple[str, ...] = ()
    warmup_rounds = 1  # untimed rounds between set-up and the timed phase
    # Typical seconds per warm round on a 4-core box; the timed phase runs
    # --seconds / round_s rounds, so every run times the same work and a
    # slow box does not also cut the sample short.
    round_s = 1.0

    def __init__(self, spark, seed: int, work: Path):
        self.spark = spark
        self.seed = seed
        self.work = work
        self._round_rng = np.random.default_rng([seed, 3])

    def setup(self) -> dict[str, float]:
        """Generate the inputs and hand them to the program.  Returns
        layer timings."""
        raise NotImplementedError

    def round_order(self) -> list[str]:
        return [self.ops[j] for j in self._round_rng.permutation(len(self.ops))]

    def call(self, op: str, i: int):
        """Issue op ``i`` of type ``op``; returns (result, build_s) where
        build_s is the time spent building DataFrames before any action
        (None when the op has no separate build step)."""
        raise NotImplementedError

    def check(self, op: str, i: int, result) -> bool:
        raise NotImplementedError

    def events(self, op: str) -> int:
        return 0

    def probe(self) -> dict[str, int]:
        """Untimed checks of known defects, run after the timed phase;
        returns each defect's error count (0 once it is fixed) and how
        many probes ran."""
        return {}


class GraphPoint(Workload):
    """Point reads and short traversals, one chunk each."""

    name = "graph_point"
    ops = ("vertex", "neighbors", "sql_neighbors", "two_hop", "path_exist")
    n_vertices = 20_000
    n_edges = 160_000
    skew = 0.8  # out-degree power law
    key_skew = 0.8
    max_hops = 4
    warmup_rounds = 2
    round_s = 2.3
    n_probes = 3  # zero-out-degree vertices probed through the SQL view

    def setup(self) -> dict[str, float]:
        from duckdb_graphar_spark import graphar

        t0 = time.perf_counter()
        g = gen.power_law_graph(self.seed, self.n_vertices, self.n_edges, self.skew)
        vpdf = pd.DataFrame({VID: np.arange(g.n, dtype=np.int64), "grp": g.grp, "score": g.score})
        epdf = pd.DataFrame({SRC: g.src, DST: g.dst})
        vdf = self.spark.createDataFrame(vpdf)
        edf = self.spark.createDataFrame(epdf)
        t1 = time.perf_counter()
        out = self.work / "graph"
        yaml_path = graphar.write_graph_dist(str(out), "G", {"V": vdf}, {TRIPLE: edf}, **LAYOUT)
        t2 = time.perf_counter()
        graphar.GraphInfo.load(yaml_path)
        t3 = time.perf_counter()
        graphar.attach(self.spark, yaml_path)
        t4 = time.perf_counter()
        self.g, self.yaml = g, yaml_path
        self._prepare_keys()
        files, mb = _dir_size(out)
        return {
            "gen_s": t1 - t0,
            "write_s": t2 - t1,
            "load_ms": (t3 - t2) * 1000.0,
            "attach_ms": (t4 - t3) * 1000.0,
            "files": files,
            "mb": mb,
        }

    def _prepare_keys(self) -> None:
        self.keys = gen.skewed_keys(self.seed, self.g.n, 1 << 16, self.key_skew)
        # The SQL view raises on a vertex with no out-edges (the
        # datasource plans no partition for it, and PySpark then reads a
        # None partition).  Timed sql_neighbors ops skip such keys; probe()
        # counts the failure instead.
        has_out = self.g.out_degree[self.keys] > 0
        self.sql_keys = self.keys[has_out]
        self.zero_keys = list(dict.fromkeys(self.keys[~has_out].tolist()))[: self.n_probes]
        self._depths: dict[int, np.ndarray] = {}

    def _key(self, i: int, j: int = 0, op: str = "") -> int:
        keys = self.sql_keys if op == "sql_neighbors" else self.keys
        return int(keys[(2 * i + j) % len(keys)])

    def _sql_neighbors(self, k: int) -> list:
        return self.spark.sql(f"SELECT {DST} FROM {EDGE_VIEW} WHERE {SRC} = {k}").collect()

    def call(self, op: str, i: int):
        from duckdb_graphar_spark import graphar
        from duckdb_graphar_spark.operators import graph as G

        k = self._key(i, op=op)
        t = time.perf_counter()
        if op == "vertex":
            df = graphar.read_vertices(self.spark, self.yaml, "V", vid=k)
            build = time.perf_counter() - t
            return df.collect(), build
        if op == "neighbors":
            df = graphar.read_edges(self.spark, self.yaml, *TRIPLE, src_vid=k)
            build = time.perf_counter() - t
            return df.collect(), build
        if op == "sql_neighbors":
            return self._sql_neighbors(k), None
        e = graphar.read_edges(self.spark, self.yaml, *TRIPLE)
        build = time.perf_counter() - t
        if op == "two_hop":
            from pyspark.sql import functions as F

            row = G.two_hop(e, k).agg(F.count(F.lit(1)), F.sum(SRC), F.sum(DST)).first()
            return (int(row[0]), int(row[1] or 0), int(row[2] or 0)), build
        if op == "path_exist":
            return G.bfs_exist(e, k, self._key(i, 1), max_depth=self.max_hops), build
        raise KeyError(op)

    def check(self, op: str, i: int, result) -> bool:
        g, k = self.g, self._key(i, op=op)
        if op == "vertex":
            return len(result) == 1 and (
                result[0][VID] == k
                and result[0]["grp"] == g.grp[k]
                and result[0]["score"] == g.score[k]
            )
        if op == "neighbors":
            return all(r[SRC] == k for r in result) and sorted(r[DST] for r in result) == sorted(
                g.out_neighbors(k).tolist()
            )
        if op == "sql_neighbors":
            return sorted(r[0] for r in result) == sorted(g.out_neighbors(k).tolist())
        if op == "two_hop":
            return result == gen.two_hop_truth(g, k)
        if op == "path_exist":
            if k not in self._depths:
                self._depths[k] = gen.bfs_depths(g, k, self.max_hops)
            return result == bool(self._depths[k][self._key(i, 1)] >= 0)
        raise KeyError(op)

    def probe(self) -> dict[str, int]:
        """SQL-view neighbors of zero-out-degree vertices: each probe that
        raises or does not return an empty list counts as one error."""
        errors = 0
        for k in self.zero_keys:
            try:
                errors += self._sql_neighbors(k) != []
            except Exception:
                errors += 1
        return {"sql_neighbors.errors": errors, "sql_neighbors.probes": len(self.zero_keys)}


class StreamEvents(Workload):
    """Seeded event files replayed through ``run_to_memory``, one file per
    micro-batch, by three stateful pipelines."""

    name = "stream_events"
    ops = ("tumbling_window_agg", "stateful_dedup", "stateful_user_totals")
    n_files = 3
    events_per_file = 20_000
    python_events_per_file = 2_000  # the Python-state pipeline's batches cost ~3x
    jitter_s = 3.0
    window = "5 minutes"
    watermark = "1 minute"  # well above the jitter: no event is late
    round_s = 7.0

    def _stage(self, d: Path, files: list[pd.DataFrame]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        d.mkdir(parents=True)
        for j, pdf in enumerate(files):
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), d / f"part-{j:04d}.parquet")

    def setup(self) -> dict[str, float]:
        t0 = time.perf_counter()
        jvm = gen.event_files(self.seed, self.n_files, self.events_per_file, self.jitter_s)
        py = gen.event_files(self.seed + 1, self.n_files, self.python_events_per_file, self.jitter_s)
        root = self.work / "events"
        self._stage(root / "jvm", jvm)
        self._stage(root / "py", py)
        self.dirs = {"jvm": root / "jvm", "py": root / "py"}
        jvm_all, py_all = pd.concat(jvm, ignore_index=True), pd.concat(py, ignore_index=True)
        self.n_events = {"jvm": len(jvm_all), "py": len(py_all)}
        self.truth = {
            "tumbling_window_agg": gen.window_truth(jvm_all, 300),
            "stateful_dedup": gen.dedup_truth(jvm_all),
            "stateful_user_totals": gen.user_totals_truth(py_all),
        }
        return {"gen_s": time.perf_counter() - t0}

    def _pipeline(self, op: str, source: str):
        from duckdb_graphar_spark.streaming import ops as S

        stream = S.read_events_stream(self.spark, str(self.dirs[source]), max_files=1)
        if op == "tumbling_window_agg":
            return S.tumbling_window_agg(stream, window=self.window, watermark=self.watermark), None
        if op == "stateful_dedup":
            return S.stateful_dedup(stream, keys=["event_id"], watermark=self.watermark), None
        if op == "stateful_user_totals":
            return S.stateful_user_totals(stream, watermark=self.watermark), "update"
        raise KeyError(op)

    def _drive(self, op: str, source: str, name: str):
        from duckdb_graphar_spark.streaming.ops import run_to_memory

        df, mode = self._pipeline(op, source)
        return run_to_memory(df, name, mode=mode)

    def query_name(self, op: str, i: int) -> str:
        return f"{op}_{i}"

    def call(self, op: str, i: int):
        # the warm-up drives replay the timed files: a warm-up on smaller
        # files left each pipeline's first timed drive about 30% slower
        # than the rest
        source = "py" if op == "stateful_user_totals" else "jvm"
        return self._drive(op, source, self.query_name(op, i)), None

    def events(self, op: str) -> int:
        return self.n_events["py" if op == "stateful_user_totals" else "jvm"]

    def check(self, op: str, i: int, result) -> bool:
        got = result.toPandas()
        self.spark.catalog.dropTempView(self.query_name(op, i))
        want = self.truth[op]
        if op == "stateful_dedup":
            ids = got["event_id"].to_numpy()
            return len(ids) == len(want) and np.array_equal(np.sort(ids), want)
        if op == "tumbling_window_agg":
            got = got.sort_values(["window_start", "event_type"], ignore_index=True)
            return (
                len(got) == len(want)
                and (got["window_start"].to_numpy() == want["window_start"].to_numpy()).all()
                and (got["event_type"].to_numpy() == want["event_type"].to_numpy()).all()
                and (got["n"].to_numpy() == want["n"].to_numpy()).all()
                and np.allclose(got["sum_value"], want["sum_value"], rtol=0, atol=1e-4)
            )
        # update mode appends each batch's updated totals; the running
        # count only grows, so each user's final row has the largest count
        final = got.sort_values(["user_id", "n_events"]).drop_duplicates("user_id", keep="last")
        final = final.sort_values("user_id", ignore_index=True)
        return (
            len(final) == len(want)
            and (final["user_id"].to_numpy() == want["user_id"].to_numpy()).all()
            and (final["n_events"].to_numpy() == want["n_events"].to_numpy()).all()
            and np.allclose(final["total_value"], want["total_value"], rtol=0, atol=1e-4)
        )


WORKLOADS = {w.name: w for w in (GraphPoint, StreamEvents)}
