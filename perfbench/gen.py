"""Seeded input generators and the ground truth the workloads check against.

Everything here is numpy/pandas only, so it can be tested without Spark.
The same seed always gives the same arrays.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

EVENT_TYPES = np.array(["view", "click", "cart", "buy"])
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


@dataclass(frozen=True)
class Graph:
    """A directed multigraph over vertex ids 0..n-1 plus its CSR form.

    Edges keep multiplicity and self-loops, exactly as they are written."""

    n: int
    src: np.ndarray
    dst: np.ndarray
    grp: np.ndarray  # int64 vertex property
    score: np.ndarray  # float64 vertex property
    offsets: np.ndarray  # CSR offsets over out-edges sorted by (src, dst)
    csr_dst: np.ndarray

    @property
    def out_degree(self) -> np.ndarray:
        return np.diff(self.offsets)

    def out_neighbors(self, v: int) -> np.ndarray:
        return self.csr_dst[self.offsets[v] : self.offsets[v + 1]]


def _power_law_draw(rng: np.random.Generator, n: int, size: int, skew: float) -> np.ndarray:
    """``size`` ids in [0, n), P(rank r) ∝ (r+1)^-skew over a seeded
    permutation, so the heavy ids are spread over the whole id range."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** skew
    w /= w.sum()
    return rng.permutation(n)[rng.choice(n, size=size, p=w)]


def power_law_graph(seed: int, n_vertices: int, n_edges: int, skew: float) -> Graph:
    """Out-degrees follow a power law of exponent ``skew``; targets are
    uniform.  Low-weight sources often get no out-edge at all."""
    rng = np.random.default_rng([seed, n_vertices, n_edges])
    src = _power_law_draw(rng, n_vertices, n_edges, skew).astype(np.int64)
    dst = rng.integers(0, n_vertices, n_edges, dtype=np.int64)
    grp = rng.integers(0, 32, n_vertices, dtype=np.int64)
    score = np.round(rng.random(n_vertices) * 100.0, 3)
    order = np.lexsort((dst, src))
    offsets = np.searchsorted(src[order], np.arange(n_vertices + 1)).astype(np.int64)
    return Graph(n_vertices, src, dst, grp, score, offsets, dst[order])


def skewed_keys(seed: int, n: int, size: int, skew: float) -> np.ndarray:
    """Point-lookup keys over ALL vertex ids, Zipf-like of exponent ``skew``."""
    rng = np.random.default_rng([seed, n, 7])
    return _power_law_draw(rng, n, size, skew).astype(np.int64)


# ---------------------------------------------------------------- graph truth


def two_hop_truth(g: Graph, v: int) -> tuple[int, int, int]:
    """(rows, sum of src, sum of dst) of ``operators.graph.two_hop``: the
    out-edges of v plus all out-edges of every neighbor occurrence."""
    deg = g.out_degree
    h = g.out_neighbors(v)
    row_dst_sum = np.bincount(g.src, weights=g.dst, minlength=g.n).astype(np.int64)
    rows = int(deg[v] + deg[h].sum())
    s_src = int(v * deg[v] + (h * deg[h]).sum())
    s_dst = int(row_dst_sum[v] + row_dst_sum[h].sum())
    return rows, s_src, s_dst


def bfs_depths(g: Graph, source: int, max_depth: int) -> np.ndarray:
    """Hop distance from ``source`` (-1 = not reached within max_depth)."""
    depth = np.full(g.n, -1, dtype=np.int64)
    depth[source] = 0
    in_frontier = np.zeros(g.n, dtype=bool)
    in_frontier[source] = True
    for d in range(1, max_depth + 1):
        nxt = np.unique(g.dst[in_frontier[g.src]])
        nxt = nxt[depth[nxt] < 0]
        if nxt.size == 0:
            break
        depth[nxt] = d
        in_frontier[:] = False
        in_frontier[nxt] = True
    return depth


# --------------------------------------------------------------------- events


def event_files(
    seed: int,
    n_files: int,
    events_per_file: int,
    jitter_s: float,
    *,
    n_users: int = 400,
    dup_share: float = 0.02,
    spacing_ms: int = 20,
) -> list[pd.DataFrame]:
    """``n_files`` event batches in the ``streaming.ops`` events shape.

    Event time advances ``spacing_ms`` per event with uniform jitter of
    ±``jitter_s`` seconds, so some events arrive out of order.  A share
    of each file's newest events is re-sent (same event_id and payload)
    in the next file, for the dedup pipeline to drop."""
    rng = np.random.default_rng([seed, n_files, events_per_file, 11])
    files: list[pd.DataFrame] = []
    carry: pd.DataFrame | None = None
    for i in range(n_files):
        base = i * events_per_file
        ids = np.arange(base, base + events_per_file, dtype=np.int64)
        jitter_us = rng.integers(-int(jitter_s * 1e6), int(jitter_s * 1e6) + 1, events_per_file)
        t_us = (np.arange(base, base + events_per_file) * spacing_ms * 1000 + jitter_us).astype(
            "timedelta64[us]"
        )
        df = pd.DataFrame(
            {
                "event_id": ids,
                "ts": EPOCH + t_us,
                "user_id": rng.integers(0, n_users, events_per_file, dtype=np.int64),
                "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), events_per_file)],
                "value": np.round(rng.random(events_per_file) * 50.0, 4),
                "props": "{}",
            }
        )
        files.append(df if carry is None else pd.concat([df, carry], ignore_index=True))
        # re-send the newest events: they are never behind the watermark
        n_dup = int(events_per_file * dup_share)
        carry = df.iloc[events_per_file - n_dup :] if n_dup else None
    return files


def window_truth(events: pd.DataFrame, window_s: int) -> pd.DataFrame:
    """Per-(window_start, event_type) count and value sum, duplicates kept
    (``streaming.ops.tumbling_window_agg`` does not dedup)."""
    start = events["ts"].dt.floor(f"{window_s}s")
    out = (
        events.assign(window_start=start)
        .groupby(["window_start", "event_type"], as_index=False)
        .agg(n=("value", "size"), sum_value=("value", "sum"))
    )
    return out.sort_values(["window_start", "event_type"], ignore_index=True)


def dedup_truth(events: pd.DataFrame) -> np.ndarray:
    return np.unique(events["event_id"].to_numpy())


def user_totals_truth(events: pd.DataFrame) -> pd.DataFrame:
    return (
        events.groupby("user_id", as_index=False)
        .agg(n_events=("value", "size"), total_value=("value", "sum"))
        .sort_values("user_id", ignore_index=True)
    )
