import numpy as np
import pandas as pd

from perfbench import gen


def _graph(seed=1, n=300, m=2400, skew=0.8):
    return gen.power_law_graph(seed, n, m, skew)


def _adj(g):
    adj = [[] for _ in range(g.n)]
    for s, d in zip(g.src.tolist(), g.dst.tolist()):
        adj[s].append(d)
    return adj


def test_graph_is_seeded():
    a, b, c = _graph(1), _graph(1), _graph(2)
    for f in ("src", "dst", "grp", "score"):
        assert np.array_equal(getattr(a, f), getattr(b, f))
    assert not np.array_equal(a.src, c.src)


def test_graph_shape_and_csr():
    g = _graph()
    assert len(g.src) == len(g.dst) == 2400
    assert g.src.min() >= 0 and g.src.max() < g.n and g.dst.max() < g.n
    assert g.offsets[-1] == 2400
    adj = _adj(g)
    for v in range(g.n):
        assert sorted(g.out_neighbors(v).tolist()) == sorted(adj[v])
    # a power law: a heavy hub and vertices with no out-edge at all
    deg = g.out_degree
    assert deg.max() > 10 * deg.mean() / 2 and (deg == 0).any()


def test_skewed_keys_cover_the_id_range_with_skew():
    k1 = gen.skewed_keys(3, 1000, 5000, 0.8)
    assert np.array_equal(k1, gen.skewed_keys(3, 1000, 5000, 0.8))
    assert k1.min() >= 0 and k1.max() < 1000
    counts = np.bincount(k1, minlength=1000)
    assert counts.max() > 10 * counts.mean()
    assert len(np.unique(k1)) > 300


def test_two_hop_truth_brute_force():
    g = _graph(n=60, m=300)
    adj = _adj(g)
    for v in range(g.n):
        rows = [(v, d) for d in adj[v]] + [(h, d) for h in adj[v] for d in adj[h]]
        want = (len(rows), sum(r[0] for r in rows), sum(r[1] for r in rows))
        assert gen.two_hop_truth(g, v) == want


def test_bfs_depths_brute_force():
    g = _graph(n=80, m=160)
    adj = _adj(g)
    for src in range(0, 80, 7):
        dist = {src: 0}
        frontier = [src]
        for d in range(1, 4):
            nxt = {w for v in frontier for w in adj[v] if w not in dist}
            for w in nxt:
                dist[w] = d
            frontier = list(nxt)
        depth = gen.bfs_depths(g, src, 3)
        assert {v: int(x) for v, x in enumerate(depth) if x >= 0} == dist


def test_event_files_are_seeded_jittered_and_carry_duplicates():
    files = gen.event_files(5, 3, 1000, 3.0, dup_share=0.05)
    again = gen.event_files(5, 3, 1000, 3.0, dup_share=0.05)
    for a, b in zip(files, again):
        pd.testing.assert_frame_equal(a, b)
    assert [len(f) for f in files] == [1000, 1050, 1050]
    # the re-sent rows are the previous file's newest events, unchanged
    resent = files[1].iloc[1000:].reset_index(drop=True)
    pd.testing.assert_frame_equal(resent, files[0].iloc[950:].reset_index(drop=True))
    ts = files[0]["ts"]
    assert (ts.diff().dt.total_seconds() < 0).any()  # some arrive out of order
    offset = (ts - gen.EPOCH).dt.total_seconds() - np.arange(1000) * 0.02
    assert offset.abs().max() <= 3.0


def test_stream_truths():
    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 3],
            "ts": pd.to_datetime(["2024-01-01 00:00:10", "2024-01-01 00:04:59", "2024-01-01 00:05:00", "2024-01-01 00:05:00"]),
            "user_id": [7, 7, 8, 8],
            "event_type": ["view", "view", "buy", "buy"],
            "value": [1.0, 2.0, 3.0, 3.0],
        }
    )
    w = gen.window_truth(ev, 300)
    assert w["n"].tolist() == [2, 2] and w["sum_value"].tolist() == [3.0, 6.0]
    assert gen.dedup_truth(ev).tolist() == [1, 2, 3]
    t = gen.user_totals_truth(ev)
    assert t["n_events"].tolist() == [2, 2] and t["total_value"].tolist() == [3.0, 6.0]
