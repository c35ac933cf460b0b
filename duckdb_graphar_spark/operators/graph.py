"""Graph-traversal operators as Spark DataFrame pipelines.

Parity targets (SURVEY §2.C):

- ``degrees`` / ``degrees_from_offsets`` ↔ reference ``edges_vertex``
  (`src/functions/table/edges_vertex.cpp:21-240`): out-degree of every
  source vertex, cheaply from the CSR offset arrays, schema
  ``(degree BIGINT, grapharId BIGINT)``.
- ``two_hop`` ↔ `src/functions/table/hop.cpp:76-135`: 1-hop edges of a
  vertex plus **all** out-edges of each neighbor occurrence (the
  reference does not dedup the neighbor set — multiplicity preserved).
- ``one_more_hop`` ↔ `src/functions/table/hop.cpp:137-225`: 1-hop edges
  plus the edges internal to the 1-hop neighborhood (triangle-closing
  edges; set semantics per SURVEY §7 "pin the intended semantics").
- ``bfs_length`` / ``bfs_exist`` ↔ `src/functions/scalar/bfs.cpp:19-163`:
  unweighted shortest-path length, -1 if unreachable, 0 if src == dst.

Scale design: the reference's BFS is a single-threaded dense-array scan
(O(|V|) driver memory — `bfs.cpp:94-134`); here every expansion is a
distributed join.  Frontiers are assumed small relative to the graph and
broadcast; `visited` stays distributed and is anti-joined.

The loop mechanics the iterative operators share live in a few private
helpers: :func:`_bfs_sweep` (every BFS), :func:`_rank_propagation`
(pagerank and its personalized form), :func:`_fixpoint` (every
run-to-convergence loop, which also tabulates each operator's
lineage-cut cadence and why), :func:`_pinned` (persisted
intermediates) and the edge builders :func:`_undirected`,
:func:`_symmetric`, :func:`_endpoints` and
:func:`_distinct_edges_and_vertices`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from duckdb_graphar_spark.graphar.metadata import (
    DEGREE_ID_COL,
    DST_INDEX_COL,
    GraphInfo,
    OFFSET_COL,
    SRC_INDEX_COL,
)


@contextmanager
def _pinned() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Persist intermediates for the length of a ``with`` block:
    ``pin(df)`` persists ``df`` and returns it; every pinned frame is
    unpersisted (non-blocking) when the block exits, on error too.  A
    frame that leaves the block must not read the pins: checkpoint it
    eagerly inside the block."""
    frames: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        frames.append(df.persist())
        return frames[-1]

    try:
        yield pin
    finally:
        for df in frames:
            df.unpersist(blocking=False)


def _undirected(edges: DataFrame, src_col: str, dst_col: str, *extra: Column) -> DataFrame:
    """The undirected simple graph under a directed multigraph edge
    list: self-loops dropped, each edge canonicalized to (a, b) with
    a < b, parallel edges collapsed by a distinct.  ``extra`` columns
    ride along instead of the distinct; the caller then collapses the
    parallel edges itself."""
    s, d = F.col(src_col), F.col(dst_col)
    e = edges.filter(s != d).select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"), *extra)
    return e if extra else e.distinct()


def _symmetric(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Both orientations (a, b) and (b, a) of every non-loop edge: the
    symmetric adjacency of the underlying undirected graph.  Parallel
    edges stay; callers that need a set add ``.distinct()``."""
    e = edges.filter(F.col(src_col) != F.col(dst_col)).select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    )
    return e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))


def _endpoints(e: DataFrame, x: str = "a", y: str = "b") -> DataFrame:
    """Both endpoints of every edge of ``e`` as one column ``v``, one
    row per edge end: group it for degrees, distinct it for the vertex
    set."""
    return e.select(F.col(x).alias("v")).unionAll(e.select(F.col(y).alias("v")))


def _distinct_edges_and_vertices(
    edges: DataFrame, src_col: str, dst_col: str
) -> tuple[DataFrame, DataFrame]:
    """The distinct directed edge set (__s, __d) and its endpoint set
    (__v), each eagerly checkpointed: the fixed-iteration score
    operators (hits, katz) join the edges every half-step and rebuild
    scores from the vertices, so without the cuts the source is read
    once per consumer (4x at the default horizon, per the
    cross-execution meter)."""
    e = (
        edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        _endpoints(e, "__s", "__d")
        .distinct()
        .select(F.col("v").alias("__v"))
        .localCheckpoint(eager=True)
    )
    return e, verts


def _fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_iters: int,
    error: Exception,
    value: str | None = None,
) -> DataFrame:
    """Exact-or-raise convergence loop: ``state = step(state)`` until a
    pass changes nothing, else raise ``error`` after ``max_iters``
    passes.  The caller gets the fixpoint or an exception, never a
    silently partial result.

    Convergence test:

    - ``value`` set (label and level relaxations): ``step`` returns the
      state's key columns, the relaxed value as ``__new`` and the old
      ``value``.  A pass converged when no row moved; the next state
      takes ``__new`` as ``value``.
    - ``value=None`` (kcore's peel): the state only shrinks.  A pass
      converged when its row count equals the previous pass's; the
      first pass compares with one count of the initial state.

    Each pass costs the step's own shuffle stages plus ONE job: the
    stepped frame is cut with a lazy ``localCheckpoint`` that the pass's
    row count (:func:`_rows`) materializes in full, so no later consumer
    races an unmaterialized mark, and the next state is a free
    projection over the checkpointed blocks; an eager cut plus a
    separate probe costs two jobs.  The next state is read through
    :func:`_without_stats`, so the size estimates of the passes do not
    compound.

    Lineage-cut cadence of the iterative family, each measured and a
    constant at its call site:

    ============================  =================  ====================================
    operator                      cut                why
    ============================  =================  ====================================
    this loop (scc, CC,           every pass, lazy   the count that tests convergence is
    condensation, kcore stable)                      the cut's own materialization
    BFS (:func:`_bfs_sweep`)      every 4th level    lineage grows by one cached union per
                                                     level; no extra job per level
    sssp                          every 2nd round    lineage doubles per round; every round
                                                     measured ~1.45x slower at sf1/sf10,
                                                     every 4th re-ran early rounds 8x
    label_propagation             every 3rd round    labels feed one join per round
    kcore (fixed rounds)          every round, lazy  the next round reads the edges 3x
    ktruss                        every round, eager support reads the edges from several
                                                     subtrees
    ============================  =================  ====================================
    """
    rows = None if value else _rows(state)
    for _ in range(max_iters):
        stepped = step(state)
        cut = _without_stats(stepped.localCheckpoint(eager=False))
        if value:
            keys = [c for c in stepped.columns if c not in ("__new", value)]
            state = cut.select(*keys, F.col("__new").alias(value))
            if _rows(cut.filter(F.col("__new") != F.col(value))) == 0:
                return state
        else:
            state, before, rows = cut, rows, _rows(cut)
            if rows == before:
                return state
    raise error


def _rows(df: DataFrame) -> int:
    """Row count in ONE job: an RDD count over the physical plan.
    ``DataFrame.count()`` plans a global aggregate whose exchange costs
    a second job.  On a lazily checkpointed frame the count is the
    cut's own full materialization."""
    return df._jdf.queryExecution().toRdd().count()


def _without_stats(cut: DataFrame) -> DataFrame:
    """The rows of a checkpointed frame under a fresh plan leaf that
    carries no statistics of its own (Catalyst then assumes the default
    size).  ``Dataset.localCheckpoint`` copies its origin plan's
    ``sizeInBytes`` into the checkpoint, and a join's estimate is the
    product of its sides', so a loop that joins its state feeds each
    pass's product into the next: the estimate's digit count grows
    geometrically with the passes (min-label propagation's passed 4,300
    digits on a 150-edge graph) until estimating it dominates planning.
    The leaf reads the checkpoint's own RDD, so it neither recomputes
    nor re-materializes anything."""
    spark = cut.sparkSession
    jdf = spark._jsparkSession.internalCreateDataFrame(
        cut._jdf.queryExecution().toRdd(), cut._jdf.schema(), False
    )
    return DataFrame(jdf, spark)


def degrees(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    src_col: str = SRC_INDEX_COL,
    vid_col: str = "_graphArVertexIndex",
) -> DataFrame:
    """Out-degree per source vertex → DataFrame(degree long, grapharId long).

    General path (works on any edge DataFrame): map-side-combinable
    ``groupBy(src).count()``; if ``vertices`` is given, zero-degree
    vertices are kept via a right join (the reference emits every vertex,
    `edges_vertex.cpp:198-240`).
    """
    deg = edges.groupBy(F.col(src_col).alias(DEGREE_ID_COL)).agg(
        F.count(F.lit(1)).alias("degree")
    )
    if vertices is not None:
        ids = vertices.select(F.col(vid_col).alias(DEGREE_ID_COL))
        deg = (
            ids.join(deg, DEGREE_ID_COL, "left")
            .select(F.coalesce(F.col("degree"), F.lit(0)).alias("degree"), DEGREE_ID_COL)
        )
    return deg.select("degree", DEGREE_ID_COL)


def degrees_from_offsets(
    spark: SparkSession,
    graph: GraphInfo | str,
    src: str,
    edge_type: str,
    dst: str,
    *,
    aligned_by: str = "src",
    vid: int | None = None,
) -> DataFrame:
    """Degree WITHOUT scanning edges: read the CSR/CSC offset chunks and
    diff consecutive offsets (reference fast path,
    `edges_vertex.cpp:132-194`: degree[v] = offset[v+1] - offset[v]).

    Each offset chunk is self-contained (chunk_size+1 rows, part-relative
    offsets), so the lead() window partitions by file — no cross-file
    shuffle dependency; scales linearly in #chunks.

    ``vid`` replays the reference's `grapharId` equality pushdown
    (`edges_vertex.cpp:91-119`): only the ONE offset chunk covering the
    vertex is read, regardless of graph size.
    """
    from duckdb_graphar_spark.graphar.reader import _OFFSET_FIELDS, _chunked_df, _plan_offsets

    g = graph if isinstance(graph, GraphInfo) else GraphInfo.load(graph)
    ei = g.edges[(src, edge_type, dst)]
    chunk_size = ei.src_chunk_size if aligned_by == "src" else ei.dst_chunk_size
    parts = _plan_offsets(g, ei, aligned_by, vid)
    files = [p.groups[0][0] for p in parts]
    df = _chunked_df(spark, files, ei.adj_list(aligned_by).file_type, _OFFSET_FIELDS)
    w = Window.partitionBy("__chunk").orderBy("__row")
    out = (
        df.withColumn("__next", F.lead(OFFSET_COL).over(w))
        .filter(F.col("__next").isNotNull())
        .select(
            (F.col("__next") - F.col(OFFSET_COL)).alias("degree"),
            (F.col("__chunk") * F.lit(chunk_size) + F.col("__row")).alias(DEGREE_ID_COL),
        )
    )
    if vid is not None:
        out = out.filter(F.col(DEGREE_ID_COL) == vid)
    return out


def one_hop(
    edges: DataFrame,
    vid: int,
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Out-edges of one vertex (benchmark "1-hop", docs/benchmarks.md:23-27)."""
    return edges.filter(F.col(src_col) == vid).select(src_col, dst_col)


def two_hop(
    edges: DataFrame,
    vid: int,
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """1-hop edges of ``vid`` ∪ all out-edges of every neighbor occurrence.

    The reference collects the neighbor list H WITHOUT dedup
    (`hop.cpp:86-102`) and re-emits each neighbor's out-edges once per
    occurrence (`:104-135`) — an inner join on the non-distinct H
    reproduces that multiplicity exactly.
    """
    e1 = edges.filter(F.col(src_col) == vid).select(src_col, dst_col)
    h = e1.select(F.col(dst_col).alias("__h"))  # NOT distinct, by design
    hop2 = (
        edges.join(F.broadcast(h), edges[src_col] == F.col("__h"))
        .select(src_col, dst_col)
    )
    return e1.unionAll(hop2)


def one_more_hop(
    edges: DataFrame,
    vid: int,
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """1-hop edges of ``vid`` ∪ edges internal to its 1-hop neighborhood
    (src ∈ H and dst ∈ H — the triangle-closing edges,
    `hop.cpp:137-225`, set semantics)."""
    e1 = edges.filter(F.col(src_col) == vid).select(src_col, dst_col)
    h = e1.select(F.col(dst_col).alias("__h")).distinct()
    closing = (
        edges.join(F.broadcast(h), edges[src_col] == F.col("__h"), "leftsemi")
        .join(F.broadcast(h), edges[dst_col] == F.col("__h"), "leftsemi")
        .select(src_col, dst_col)
    )
    return e1.unionAll(closing)


def bfs_length(
    edges: DataFrame,
    src_vid: int,
    dst_vid: int,
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    max_depth: int = 30,
    driver_threshold: int = 2_000_000,
    broadcast_threshold: int = 1_000_000,
) -> int:
    """Unweighted shortest-path length src→dst; -1 unreachable, 0 if equal.

    Level-synchronous BFS (`bfs.cpp:94-134` re-expressed) through
    :func:`_bfs_sweep`: the frontier is expanded by an edge join per
    level, deduped, and anti-joined against the visited set, with ONE
    fused count-plus-hit aggregate per level.  Driver state is O(1).

    Adaptive fast path: when the edge list fits the driver
    (≤ ``driver_threshold`` edges, probed with one limit-collect job —
    the reference's own dense-array BFS is this shape, `bfs.cpp:94-134`),
    in-memory BFS replaces ~4 Spark jobs per level with one collect.
    The distributed path remains for graphs that don't fit
    (``driver_threshold=0`` forces it).

    The frontier-edge join is broadcast ONLY while the previous level's
    frontier count stays ≤ ``broadcast_threshold``; above it the hint is
    dropped and the join shuffles (AQE still picks broadcast for small
    frontiers on its own)."""
    if src_vid == dst_vid:
        return 0
    if driver_threshold > 0:
        # Arrow transfer, not collect(): 1.5M Row objects cost seconds of
        # driver deserialization; toArrow() moves the same data as two
        # numpy-backed columns in one zero-copy-ish batch
        probe = (
            edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
            .limit(driver_threshold + 1)
            .toArrow()
        )
        if probe.num_rows <= driver_threshold:
            import numpy as np

            return _bfs_driver(
                np.asarray(probe.column("__s")),
                np.asarray(probe.column("__d")),
                src_vid,
                dst_vid,
                max_depth,
            )
    hit: list[int] = []

    def level(depth: int, nxt: DataFrame) -> int:
        # ONE action per level: the stats aggregate materializes the
        # persisted frontier (size + dst membership read together)
        stat = nxt.agg(
            F.count(F.lit(1)).alias("n"),
            F.max((F.col("__v") == dst_vid).cast("int")).alias("hit"),
        ).first()
        if stat["hit"]:
            hit.append(depth)
            return 0
        return stat["n"]

    _bfs_sweep(
        edges,
        [src_vid],
        src_col=src_col,
        dst_col=dst_col,
        max_depth=max_depth,
        broadcast_threshold=broadcast_threshold,
        level=level,
    )
    return hit[0] if hit else -1


def _expand_frontier(
    e: DataFrame,
    frontier: DataFrame,
    visited: DataFrame,
    *,
    broadcast: bool,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """One BFS level: distinct unvisited successors of the frontier.
    ``broadcast=False`` drops the hint so the frontier join shuffles
    instead of failing on an over-limit broadcast.  ``keys`` are extra
    key columns carried by the frontier and the visited set (the
    multi-source sweep's ``__src``): each key value expands on its own.

    The distinct + visited anti-join are fused into ONE aggregate (tag
    expansion rows 0, visited rows 1, keep never-seen groups): one
    exchange per level instead of a distinct shuffle followed by an
    anti-join, and no broadcast build of the visited set — which grows
    toward |V| and is exactly the relation the guide says not to
    broadcast at scale."""
    fr = F.broadcast(frontier) if broadcast else frontier
    return (
        e.join(fr, e["__s"] == F.col("__v"))
        .select(*keys, F.col("__d").alias("__v"), F.lit(0).alias("__t"))
        .unionByName(visited.select(*keys, "__v", F.lit(1).alias("__t")))
        .groupBy(*keys, "__v")
        .agg(F.max("__t").alias("__mt"))
        .filter(F.col("__mt") == 0)
        .select(*keys, "__v")
    )


def _bfs_sweep(
    edges: DataFrame,
    sources: list[int],
    *,
    src_col: str,
    dst_col: str,
    max_depth: int,
    broadcast_threshold: int,
    level: Callable[[int, DataFrame], int] | None = None,
    keyed: bool = False,
    distances: bool = False,
) -> tuple[list[int], DataFrame | None]:
    """The distributed level-synchronous BFS loop behind
    :func:`bfs_length`, :func:`bfs_levels`, :func:`bfs_distances` and
    :func:`multi_source_bfs`.  It owns the frontier, the visited set,
    the persisted edge and level frames, the per-level action and the
    lineage cut; driver state is the list of level sizes.

    Each level is :func:`_expand_frontier` over the persisted edges,
    persisted in turn and measured by ONE action, ``level(depth, nxt)``
    (default: its count), which returns the level's size; 0 ends the
    sweep.  The frontier join is broadcast while the previous level's
    size stays ≤ ``broadcast_threshold``: a mid-BFS frontier on a
    100×-scale graph can hold tens of millions of vertices, where a
    forced broadcast is a hard job failure.

    Lineage grows by one cached-scan union per level; a lazy cut every
    4th level keeps 100-level sweeps shallow without an extra job per
    level.

    ``keyed``: the frontier carries its source as ``__src``, so one
    sweep runs every source's BFS at once (a vertex is visited once per
    source).  ``distances``: also build the reached (``__src``, __v,
    dist) frame, eagerly checkpointed before the pins are released.

    Returns (sizes, reached): ``sizes[d]`` is the size of level d for
    every non-empty level (``sizes[0]`` = the number of sources), and
    ``reached`` is None unless ``distances`` is set."""
    spark = edges.sparkSession
    keys = ("__src",) if keyed else ()
    with _pinned() as pin:
        e = pin(edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")))
        if keyed:
            frontier = spark.createDataFrame(
                [(int(s),) for s in sources], "__src long"
            ).select("__src", F.col("__src").alias("__v"))
        else:
            # single-partition local relation — no shuffle, broadcast feeds the join
            frontier = spark.range(1).select(F.lit(sources[0]).cast("long").alias("__v"))
        visited = frontier
        reached = frontier.withColumn("dist", F.lit(0)) if distances else None
        sizes = [len(sources)]
        for depth in range(1, max_depth + 1):
            nxt = pin(
                _expand_frontier(
                    e,
                    frontier,
                    visited,
                    broadcast=sizes[-1] <= broadcast_threshold,
                    keys=keys,
                )
            )
            n = level(depth, nxt) if level else nxt.count()
            if n == 0:
                break
            sizes.append(n)
            visited = visited.unionAll(nxt)
            frontier = nxt
            if distances:
                reached = reached.unionAll(nxt.select(*keys, "__v", F.lit(depth).alias("dist")))
            if depth % 4 == 0:
                frontier = frontier.localCheckpoint(eager=False)
                visited = visited.localCheckpoint(eager=False)
                if distances:
                    reached = reached.localCheckpoint(eager=False)
        return sizes, reached.localCheckpoint(eager=True) if distances else None


def _bfs_driver(src, dst, src_vid: int, dst_vid: int, max_depth: int) -> int:
    """Vectorized level-synchronous BFS over numpy (src, dst) edge
    arrays: factorize ids, sort once into CSR form, then each level is a
    gather + boolean-mask — ~50× the throughput of a dict-of-lists
    Python loop on a 1.5M-edge graph (the reference's own dense-array
    BFS shape, `bfs.cpp:94-134`, minus the per-edge interpreter)."""
    import numpy as np

    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    ids = np.unique(np.concatenate([src, dst, [src_vid, dst_vid]]))
    n = len(ids)
    s_idx = np.searchsorted(ids, src)
    d_idx = np.searchsorted(ids, dst)
    start = int(np.searchsorted(ids, src_vid))
    target = int(np.searchsorted(ids, dst_vid))
    # CSR: sort edges by source, offsets via searchsorted on the sorted keys
    order = np.argsort(s_idx, kind="stable")
    s_sorted = s_idx[order]
    d_sorted = d_idx[order]
    offsets = np.searchsorted(s_sorted, np.arange(n + 1))
    visited = np.zeros(n, dtype=bool)
    visited[start] = True
    frontier = np.array([start], dtype=np.int64)
    for depth in range(1, max_depth + 1):
        starts = offsets[frontier]
        ends = offsets[frontier + 1]
        counts = ends - starts
        total = int(counts.sum())
        if total == 0:
            return -1
        # ranges→indices: one cumsum builds every [start_i, end_i) run
        idx = np.repeat(starts - np.concatenate(([0], np.cumsum(counts)[:-1])), counts)
        idx = idx + np.arange(total)
        neigh = d_sorted[idx]
        if (neigh == target).any():
            return depth
        mask = ~visited[neigh]
        nxt = np.unique(neigh[mask])
        if nxt.size == 0:
            return -1
        visited[nxt] = True
        frontier = nxt
    return -1


def bfs_exist(
    edges: DataFrame,
    src_vid: int,
    dst_vid: int,
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    max_depth: int = 30,
    driver_threshold: int = 2_000_000,
    broadcast_threshold: int = 1_000_000,
) -> bool:
    """Reachability: `bfs_length(...) != -1` (reference delegates the same
    way, `bfs.cpp:140-163`)."""
    return (
        bfs_length(
            edges,
            src_vid,
            dst_vid,
            src_col=src_col,
            dst_col=dst_col,
            max_depth=max_depth,
            driver_threshold=driver_threshold,
            broadcast_threshold=broadcast_threshold,
        )
        != -1
    )


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    *,
    n_iters: int = 2,
    damping: float = 0.85,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    id_col: str = "id",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed (multi)edge list —
    parallel edges each carry mass, per the original random-surfer
    formulation.  Dangling mass is NOT redistributed (the rank a sink
    absorbs leaves the system), which keeps every iteration a pure
    edge-join + aggregation; the variant choice is mirrored by the SQL
    oracle.

    Engine-stable float discipline: each edge contribution is ONE double
    division (rank/out_degree) cast to DECIMAL(38,18); per-vertex sums
    accumulate exactly (order-independent), and the published per-
    iteration rank rounds to 12 places — so a fixed-iteration SQL replay
    matches bit-for-bit.

    Scale shape per iteration: join ranks⋈edges on src (shuffle on src,
    reused across iterations since edges' partitioning is stable), then
    one map-combinable groupBy(dst) carrying a single decimal per edge;
    ranks stay an n-row distributed table, never on the driver.  The
    loop is :func:`_rank_propagation`, shared with
    :func:`personalized_pagerank`.
    """
    return _rank_propagation(
        edges,
        vertices,
        n_iters=n_iters,
        damping=damping,
        src_col=src_col,
        dst_col=dst_col,
        id_col=id_col,
        out_col="pagerank",
    )


def _rank_propagation(
    edges: DataFrame,
    vertices: DataFrame,
    *,
    n_iters: int,
    damping: float,
    src_col: str,
    dst_col: str,
    id_col: str,
    out_col: str,
    source: int | None = None,
) -> DataFrame:
    """The rank-propagation body of :func:`pagerank` (``source=None``:
    uniform start, teleport 0.15/n to every vertex) and
    :func:`personalized_pagerank` (point mass at ``source``, teleport
    1-damping to it alone).

    The edges feed the out-degree aggregate AND every iteration's
    contribution join; the vertices feed the count plus the rank
    rebuild.  ONE union-tagged lazy checkpoint (edges tagged 0,
    vertices tagged 1) puts every downstream consumer on one
    materialized relation, so each source is read once (the
    cross-execution meter measured orders 2x / customer 3x before), and
    the vertex count is that checkpoint's own full materialization job,
    which makes the lazy mark safe."""
    both = (
        edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
        .withColumn("__t", F.lit(0))
        .unionByName(
            vertices.select(F.col(id_col).alias("__s"))
            .withColumn("__d", F.lit(None).cast(edges.schema[dst_col].dataType))
            .withColumn("__t", F.lit(1))
        )
        .localCheckpoint(eager=False)
    )
    n_b = both.filter(F.col("__t") == 1).count()
    e = both.filter(F.col("__t") == 0).select("__s", "__d")
    v = both.filter(F.col("__t") == 1).select(F.col("__s").alias("__v"))
    outdeg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__od"))
    if source is None:
        ranks = v.select("__v", (F.lit(1.0) / F.lit(n_b)).alias("__r"))
        base = F.lit(0.15) / F.lit(n_b)
    else:
        at_source = F.col("__v") == F.lit(source)
        ranks = v.select("__v", F.when(at_source, F.lit(1.0)).otherwise(F.lit(0.0)).alias("__r"))
        base = F.when(at_source, F.lit(1.0 - damping)).otherwise(F.lit(0.0))
    for _ in range(n_iters):
        contrib = (
            e.join(outdeg, "__s")
            .join(ranks, e["__s"] == F.col("__v"))
            .select(
                F.col("__d"),
                (F.col("__r") / F.col("__od")).cast("decimal(38,18)").alias("__c"),
            )
            .groupBy("__d")
            .agg(F.sum("__c").alias("__sum"))
        )
        ranks = (
            ranks.select("__v")
            .join(contrib, ranks["__v"] == contrib["__d"], "left")
            .select(
                "__v",
                F.round(
                    base
                    + F.lit(damping)
                    * F.coalesce(F.col("__sum"), F.lit(0).cast("decimal(38,18)")).cast(
                        "double"
                    ),
                    12,
                ).alias("__r"),
            )
        )
    return ranks.select(F.col("__v").alias(id_col), F.col("__r").alias(out_col))


def _oriented_triangles(e_df: DataFrame, *, materialize: bool = False) -> DataFrame:
    """Every triangle of the canonical (a < b, distinct, loop-free) edge
    set ``e_df`` EXACTLY ONCE as (u, y, z), via degree-ordered oriented
    enumeration (the compact-forward plan): orient each edge from its
    lower-(degree, id) endpoint to the higher, enumerate wedges only
    among each vertex's OUT-neighbors, close them against the oriented
    edge set.  Work is Σ|N⁺(v)|² ≤ O(|E|^1.5) instead of the naive
    Σdeg² — hub-robust by construction (a power-law hub's neighbors are
    mostly lower-degree, so its out-degree stays small), and immune to
    WHERE the hub's id happens to fall, unlike id-ordered a<b<c plans
    (a hub at a mid-range id has ~deg²/4 id-ordered wedges)."""
    dg = _endpoints(e_df).groupBy("v").agg(F.count(F.lit(1)).alias("__dg"))
    da = dg.select(F.col("v").alias("__va"), F.col("__dg").alias("__da"))
    db = dg.select(F.col("v").alias("__vb"), F.col("__dg").alias("__db"))
    stamped = e_df.join(da, e_df["a"] == da["__va"]).join(db, e_df["b"] == db["__vb"])
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    # oriented edge u→v, u strictly lower in (degree, id) order; carry
    # v's degree so out-neighbor PAIRS order without a re-join
    oriented = stamped.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("__db")).otherwise(F.col("__da")).alias("dv"),
    )
    # oriented is consumed THREE times (both wedge legs + the closing
    # edge set); without materialization each consumer re-runs the
    # degree-stamp joins — and every source read above them.  One-shot
    # callers (clustering coefficient, triangle count) opt in to an
    # eager O(E) checkpoint; ktruss keeps the default: its loop already
    # re-checkpoints the shrinking edge set every round.
    if materialize:
        oriented = oriented.localCheckpoint(eager=True)
    o1 = oriented.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    o2 = oriented.select(
        F.col("u").alias("u2"), F.col("v").alias("z"), F.col("dv").alias("dz")
    )
    wedges = o1.join(
        o2,
        (F.col("u") == F.col("u2"))
        & (
            (F.col("dy") < F.col("dz"))
            | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
        ),
    ).select("u", "y", "z")
    closing = oriented.select(F.col("u").alias("__cy"), F.col("v").alias("__cz"))
    return wedges.join(
        closing, (F.col("y") == F.col("__cy")) & (F.col("z") == F.col("__cz"))
    ).select("u", "y", "z")


def triangle_count(
    edges: DataFrame,
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Global triangle count of the UNDIRECTED simple graph underlying a
    directed multigraph edge list: parallel edges collapse, self-loops
    drop, and each edge is canonicalized to (lo, hi).  Each triangle is
    counted once via :func:`_oriented_triangles` — DEGREE-ordered
    compact-forward enumeration, which keeps join sizes bounded under
    power-law degree skew wherever the hub's id falls (an id-ordered
    a<b<c plan blows up ~deg²/4 on a mid-id hub).

    Returns a single row (n_triangles).  Scale shape: one distinct
    (shuffle) for the canonical edge set, one degree groupBy, two
    shuffled equi-joins; no broadcast assumptions — AQE may still
    broadcast a small canonical edge set on its own.
    """
    # canon feeds the triangle enumeration's degree aggregate and
    # edge-stamp joins — an eager O(E) checkpoint (plus materializing
    # `oriented` for its three consumers) keeps the source at one read
    # (was 3x), as in clustering_coefficient.
    canon = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)
    return _oriented_triangles(canon, materialize=True).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def bfs_levels(
    edges: DataFrame,
    src_vid: int,
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    max_depth: int = 6,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """Neighborhood growth profile: how many vertices are FIRST reached
    at each BFS depth from ``src_vid`` — (depth, n_vertices), depth 0 =
    the source itself.  The level-size sequence is the standard
    reachability/diameter diagnostic (and the cost model input for
    deciding broadcast vs shuffle traversal).

    The level loop is :func:`_bfs_sweep` (frontier-size-aware
    broadcast); driver state is the O(max_depth) histogram only.
    """
    sizes, _ = _bfs_sweep(
        edges,
        [src_vid],
        src_col=src_col,
        dst_col=dst_col,
        max_depth=max_depth,
        broadcast_threshold=broadcast_threshold,
    )
    return edges.sparkSession.createDataFrame(
        list(enumerate(sizes)), "depth int, n_vertices long"
    )


def sssp(
    edges: DataFrame,
    src_vid: int,
    *,
    n_iters: int = 4,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    weight_col: str = "w",
) -> DataFrame:
    """Single-source shortest paths over INTEGER edge weights:
    ``n_iters`` rounds of Bellman-Ford min-plus relaxation (Pregel
    style), so the result is the exact shortest distance among paths of
    at most ``n_iters`` edges — the fixed-iteration form whose SQL
    replay is a linear chain of relax CTEs, the same determinism recipe
    as :func:`pagerank`'s unrolled iterations.  Integer weights keep
    every distance exact (no float discipline needed at all).

    Returns (id, dist) for vertices reached within the horizon.

    Scale shape per iteration: dist ⋈ edges on the source key (shuffle
    join — the distance table is an n-row DISTRIBUTED relation, never
    broadcast and never on the driver), then ONE map-combinable
    groupBy(id) MIN over old + relaxed candidate distances.  Parallel
    edges collapse inside the MIN for free.  Unlike BFS no frontier
    tracking is needed — relaxation is monotone and idempotent, so the
    fixed horizon needs no convergence probe (and therefore no
    per-iteration driver round-trip at all until the final collect).
    """
    # e is constant across all n_iters relaxation joins; one eager O(E)
    # checkpoint means every round reads the materialized relation and
    # the source parquet is scanned once (was once per round — the
    # cross-execution meter measured 4x at the default horizon).
    e = edges.select(
        F.col(src_col).alias("__s"),
        F.col(dst_col).alias("__d"),
        F.col(weight_col).cast("long").alias("__w"),
    ).localCheckpoint(eager=True)
    spark = edges.sparkSession
    dist = spark.range(1).select(
        F.lit(int(src_vid)).cast("long").alias("__v"),
        F.lit(0).cast("long").alias("__dist"),
    )
    for it in range(n_iters):
        relaxed = (
            dist.join(e, dist["__v"] == e["__s"])
            .select(F.col("__d").alias("__v"), (F.col("__dist") + F.col("__w")).alias("__dist"))
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("__v")
            .agg(F.min("__dist").alias("__dist"))
        )
        # the lineage DOUBLES per iteration (dist feeds both the union
        # branch and the relax join): every-4th-round cuts (pre-r12)
        # left up to 2^3 re-executions of early rounds inside the final
        # action, while the r12 every-round cut persisted the O(V)
        # distance table once per iteration and measured ~1.45x slower
        # at sf1 AND sf10 (BENCH_r13_sf_probe.json).  Cut every 2nd
        # round: re-execution is bounded at 2x of ONE round whose
        # inputs are all checkpointed (never a source re-scan — e is
        # materialized above), at half the persist traffic.
        if it + 1 < n_iters and it % 2 == 1:
            dist = dist.localCheckpoint(eager=False)
    return dist.select(F.col("__v").alias("id"), F.col("__dist").alias("dist"))


def kcore(
    edges: DataFrame,
    k: int,
    *,
    n_iters: int = 3,
    until_stable: bool = False,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Fixed-iteration k-core peeling over the undirected simple graph
    (the graph-ML pre-filter: drop low-degree fringe before expensive
    downstream passes).  Each round removes every vertex whose degree
    in the CURRENT subgraph is < k; ``n_iters`` bounded rounds make the
    result exactly SQL-replayable as an unrolled CTE chain.

    ``until_stable=True`` runs to the TRUE k-core instead: peel until a
    round removes no edge (:func:`_fixpoint`: one count job per round,
    constant driver state), with
    ``n_iters`` reinterpreted as a safety cap (pass a generous cap; the
    peel provably needs ≤ |V| rounds and in practice a handful).  The
    fixed-round form stays the default because the declared driver
    entry replays it as an unrolled SQL chain.

    Returns (id, degree): the vertices surviving the peel with their
    degree in the surviving subgraph.

    Scale shape per round: one explode-both-directions degree groupBy
    (map-combinable longs) + two semi-joins filtering the edge list —
    all shuffles keyed on vertex ids; the edge relation shrinks
    monotonically and no driver state exists beyond the loop counter
    (plus one edge-count long per round under ``until_stable``).
    """
    # the peel re-derives the shrinking edge set from this initial canon
    # every round (degree aggregate + two semi-joins per round re-execute
    # the lineage above them); one eager O(E) checkpoint pins the source
    # at one read (was once per round, 3x at the default horizon).
    e = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)

    def degs(edges_df: DataFrame) -> DataFrame:
        return _endpoints(edges_df).groupBy("v").agg(F.count(F.lit(1)).alias("degree"))

    def peel(e: DataFrame) -> DataFrame:
        alive = degs(e).filter(F.col("degree") >= k).select("v")
        e = e.join(alive, e["a"] == alive["v"], "left_semi")
        return e.join(alive, e["b"] == alive["v"], "left_semi")

    if until_stable:
        # the cap is a SAFETY bound, not a semantic one: exiting through
        # it silently would hand back a non-fixpoint subgraph labeled
        # "true k-core" — raise so the caller widens n_iters instead
        e = _fixpoint(
            e,
            peel,
            max_iters=n_iters,
            error=RuntimeError(
                f"kcore(until_stable=True) hit the n_iters={n_iters} safety "
                "cap before the peel reached fixpoint; pass a larger n_iters"
            ),
        )
    else:
        for _ in range(n_iters):
            # cut EVERY round, not every 3rd: the next round consumes e
            # three times (both degs branches + the semi-join chain), so
            # uncut lineage re-executes each round's aggregate and
            # semi-joins ~3x per extra round.  Lazy: materializes inside
            # the final action, no extra job.
            e = peel(e).localCheckpoint(eager=False)
    return degs(e).select(F.col("v").alias("id"), "degree")


def label_propagation(
    edges: DataFrame,
    *,
    n_iters: int = 2,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Fixed-iteration synchronous label propagation (Raghavan et al.
    2007) over the undirected simple graph underlying a directed
    multigraph edge list → (id, label) community assignments.

    Deterministic variant (engine-replayable, unlike the randomized
    original): every vertex starts labeled with its own id; each round
    every vertex adopts the label that is MOST FREQUENT among its
    neighbors, ties broken by smallest label.  The argmax is ONE
    map-combinable aggregate — ``max(struct(count, -label))`` — so no
    per-vertex window sort exists anywhere.

    Scale shape per round: neighbor-relation ⋈ labels (shuffle on the
    neighbor id, stable across rounds) + groupBy(vertex, label) count +
    groupBy(vertex) argmax, all map-combinable; labels stay an n-row
    distributed relation; lineage cut every 3rd round.
    """
    # canon feeds the neighbor relation (two union branches, consumed
    # once per round) and the initial label set (two more); one eager
    # O(E) checkpoint pins the source at one read (was 3x).
    canon = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)
    nbr = canon.select(F.col("a").alias("__v"), F.col("b").alias("__u")).unionAll(
        canon.select(F.col("b").alias("__v"), F.col("a").alias("__u"))
    )
    labels = _endpoints(canon).distinct().select(
        F.col("v").alias("__v"), F.col("v").alias("__lab")
    )
    for it in range(n_iters):
        counts = (
            nbr.join(labels.select(F.col("__v").alias("__u"), "__lab"), "__u")
            .groupBy("__v", "__lab")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        picked = counts.groupBy("__v").agg(
            F.max(F.struct(F.col("__c"), (-F.col("__lab")).alias("__nl"))).alias("__m")
        )
        labels = picked.select("__v", (-F.col("__m.__nl")).alias("__lab"))
        if (it + 1) % 3 == 0 and it + 1 < n_iters:
            labels = labels.localCheckpoint(eager=False)
    return labels.select(F.col("__v").alias("id"), F.col("__lab").alias("label"))


def personalized_pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    source: int,
    *,
    n_iters: int = 2,
    damping: float = 0.85,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    id_col: str = "id",
) -> DataFrame:
    """Fixed-iteration PageRank personalized to one source vertex: the
    teleport mass (1-d) lands entirely on ``source`` instead of being
    spread 1/n — the standard seed-proximity score for related-item /
    local-community queries.  Initial distribution is a point mass at
    the source; dangling mass leaves the system (same variant as
    `pagerank`, mirrored by the SQL oracle).

    Runs :func:`_rank_propagation`, as `pagerank` does: one ranks⋈edges
    shuffle join + one map-combinable DECIMAL(38,18) groupBy(dst) per
    round; ranks published at 12 decimals."""
    return _rank_propagation(
        edges,
        vertices,
        n_iters=n_iters,
        damping=damping,
        src_col=src_col,
        dst_col=dst_col,
        id_col=id_col,
        out_col="ppr",
        source=source,
    )


def hits(
    edges: DataFrame,
    *,
    n_iters: int = 2,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Fixed-iteration UNNORMALIZED HITS (Kleinberg 1999) over the
    distinct directed edge set → (id, hub, authority).

    Integer-exact variant: all scores start at 1; each iteration first
    updates authorities a(v) = Σ_{(u,v)} h(u) from the PREVIOUS hubs,
    then hubs h(u) = Σ_{(u,v)} a(v) from the NEW authorities — the
    classic two half-steps, minus the norm (scores are compared by
    ratio anyway; callers normalize at read time).  Skipping the norm
    keeps every quantity a BIGINT sum, so the result is exactly
    engine-replayable as an unrolled SQL chain with no float discipline
    at all — and overflow would need path counts beyond 2⁶³, far past
    any fixed-iteration horizon on real graphs.

    Scale shape per iteration: two (edge ⋈ score) hash joins each
    followed by a map-combinable integer groupBy — the pagerank shape;
    scores stay n-row distributed relations, never on the driver.
    Zero-score vertices are DROPPED inside the loop (a zero contributes
    nothing to any sum, so propagation is unchanged) and re-attached
    with one pair of left joins at the end — half the per-iteration
    shuffle count of the keep-every-vertex form.
    """
    if n_iters < 1:
        raise ValueError("n_iters must be >= 1")
    e, verts = _distinct_edges_and_vertices(edges, src_col, dst_col)
    hubs = verts.select("__v", F.lit(1).cast("long").alias("__h"))
    auths = None
    for _ in range(n_iters):
        auths = (
            e.join(hubs, e["__s"] == hubs["__v"])
            .groupBy("__d")
            .agg(F.sum("__h").cast("long").alias("__a"))
            .select(F.col("__d").alias("__v"), "__a")
        )
        hubs = (
            e.join(auths, e["__d"] == auths["__v"])
            .groupBy("__s")
            .agg(F.sum("__a").cast("long").alias("__h"))
            .select(F.col("__s").alias("__v"), "__h")
        )
    return (
        verts.join(hubs.withColumnRenamed("__v", "__hv"),
                   verts["__v"] == F.col("__hv"), "left")
        .join(auths.withColumnRenamed("__v", "__av"),
              verts["__v"] == F.col("__av"), "left")
        .select(
            F.col("__v").alias("id"),
            F.coalesce("__h", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("__a", F.lit(0)).cast("long").alias("authority"),
        )
    )


def clustering_coefficient(
    edges: DataFrame,
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Per-vertex local clustering coefficient over the undirected
    simple graph → (id, degree, n_triangles, coeff) with
    coeff = 2·T(v) / (deg(v)·(deg(v)−1)), 0.0 for degree < 2.

    Triangles come from the same degree-ordered compact-forward
    enumeration as :func:`triangle_count` (:func:`_oriented_triangles`,
    each triangle materializes ONCE — hub-robust under power-law skew),
    then fan out to their three corners with one explode — integer
    counts all the way, one double division at the end
    (engine-mirrorable).

    Scale shape: one distinct for the canonical edge set, one degree
    groupBy, two shuffled equi-joins for the triangles, one
    explode+groupBy for corner counts, one join; everything keyed on
    vertex ids.
    """
    # canon feeds the degree aggregate (two union branches) AND the
    # triangle enumeration's three internal consumers — five upstream
    # re-reads of the source without materialization
    # (scripts/audit_corpus_passes.py measured four full orders reads).
    # One eager O(E) checkpoint of the canonical edge set collapses
    # them to one source read.
    canon = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)
    deg = _endpoints(canon).groupBy("v").agg(F.count(F.lit(1)).alias("degree"))
    tri_per_v = (
        _oriented_triangles(canon, materialize=True)
        .select(F.explode(F.array("u", "y", "z")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tri_per_v, "v", "left")
        .select(
            F.col("v").alias("id"),
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    (F.lit(2.0) * F.coalesce("n_triangles", F.lit(0)).cast("double"))
                    / (F.col("degree").cast("double")
                       * (F.col("degree").cast("double") - F.lit(1.0))),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("coeff"),
        )
    )


def degree_assortativity(
    edges: DataFrame,
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Degree assortativity (Newman 2002) of the undirected simple
    graph → one row (n, corr): the Pearson correlation of endpoint
    degrees over all ordered edge endpoint pairs (each canonical edge
    contributes both orientations, the standard symmetrization).

    Delegates the statistic to :func:`..stats.exact_corr` (scale 1 —
    degrees are already integers), so the moment sums are exact and
    the final value is one mirrored double expression.

    Scale shape: degree groupBy + two vertex-keyed joins to stamp
    endpoint degrees + exact_corr's single map-combinable aggregate."""
    from duckdb_graphar_spark.operators.stats import exact_corr

    # canon feeds the degree aggregate (two union branches) and the
    # symmetrized pair relation (two more); one eager O(E) checkpoint
    # pins the source at one read (was 3x).
    canon = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)
    deg = _endpoints(canon).groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    pairs = canon.select(F.col("a").alias("u"), F.col("b").alias("w")).unionAll(
        canon.select(F.col("b").alias("u"), F.col("a").alias("w"))
    )
    du = deg.select(F.col("v").alias("__u"), F.col("d").alias("x"))
    dw = deg.select(F.col("v").alias("__w"), F.col("d").alias("y"))
    joined = (
        pairs.join(du, pairs["u"] == du["__u"])
        .join(dw, pairs["w"] == dw["__w"])
        .select(F.col("x").cast("double").alias("x"), F.col("y").cast("double").alias("y"))
    )
    return exact_corr(joined, "x", "y", [], scale=1)


def common_neighbor_candidates(
    edges: DataFrame,
    *,
    k: int = 50,
    max_center_degree: int | None = None,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Link prediction by common neighbors: the top-``k`` NON-adjacent
    vertex pairs ranked by shared-neighbor count, with Jaccard
    similarity → (u, w, n_common, jaccard), u < w, ordered by
    (n_common desc, u, w).

    Scale shape: the wedge join (neighbors ⋈ neighbors on the center)
    is the classic Σdeg² enumeration — bounded by orienting u < w and,
    on power-law graphs, by ``max_center_degree`` (drop hub centers,
    the standard accuracy/cost dial: a celebrity node's wedge set adds
    candidates that common-neighbor counts score badly anyway).  Then
    one (u, w) groupBy, an anti-join against the edge set, and two
    degree stamps; union size = deg(u)+deg(w)−cn, so no neighbor-set
    materialization anywhere."""
    # EAGER checkpoint of the canonical edge relation: deg below is a
    # lazily-checkpointed frame, i.e. its OWN RDD lineage — its
    # materialization re-ran the whole canon subtree outside the final
    # query's exchange reuse, costing a second full source pass (r13
    # meter 2.0 -> 1.0, timed 3.7 -> 3.2 s).  With canon materialized
    # once, the main query AND deg's lineage both read its blocks: one
    # source pass total (the g18/g21 constant-relation discipline).
    # (adamic_adar_candidates keeps the 2-pass shape — there the same
    # checkpoint flipped the weight-stamp join's build side and timed
    # 1.4x slower; see its comment.)
    canon = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)
    nb = canon.select(F.col("a").alias("c"), F.col("b").alias("n")).unionAll(
        canon.select(F.col("b").alias("c"), F.col("a").alias("n"))
    )
    # deg feeds BOTH jaccard stamps (du/dw) and, when capped, the hub
    # filter — pin the |V|-row aggregate once instead of re-shuffling
    # nb per consumer (Spark does not CSE across joins)
    deg = (
        nb.groupBy(F.col("n").alias("v"))
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    if max_center_degree is not None:
        # nb is symmetric ((c,n) ⇔ (n,c)), so center degree ≡ neighbor
        # degree: the jaccard stamp table doubles as the cap source.
        # The OVER-cap hub set is small BY DEFINITION of the power-law
        # case this dial exists for (and empty on uniform fixtures), so
        # broadcast it into an anti join — nb never shuffles for the
        # cap, which is what keeps the capped plan within noise of the
        # uncapped one when no hubs exist.
        hubs = deg.filter(F.col("d") > max_center_degree).select(
            F.col("v").alias("c")
        )
        nb = nb.join(F.broadcast(hubs), "c", "left_anti")
    left = nb.select(F.col("c"), F.col("n").alias("u"))
    right = nb.select(F.col("c").alias("c2"), F.col("n").alias("w"))
    cn = (
        left.join(right, (F.col("c") == F.col("c2")) & (F.col("u") < F.col("w")))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    non_edges = cn.join(
        canon,
        (cn["u"] == canon["a"]) & (cn["w"] == canon["b"]),
        "left_anti",
    )
    du = deg.select(F.col("v").alias("__u"), F.col("d").alias("__du"))
    dw = deg.select(F.col("v").alias("__w"), F.col("d").alias("__dw"))
    return (
        non_edges.join(du, non_edges["u"] == du["__u"])
        .join(dw, non_edges["w"] == dw["__w"])
        .select(
            "u",
            "w",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("__du") + F.col("__dw") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("n_common").desc(), "u", "w")
        .limit(k)
    )


def adamic_adar_candidates(
    edges: DataFrame,
    *,
    k: int = 50,
    max_center_degree: int | None = None,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Adamic–Adar link prediction: the top-``k`` NON-adjacent vertex
    pairs ranked by ``Σ_{c ∈ CN(u,w)} 1 / ln(deg(c))`` →
    (u, w, n_common, adamic_adar), u < w, ordered by (score desc, u, w).

    The AA index down-weights common neighbors that are themselves
    hubs (a shared celebrity follower is weak evidence; a shared
    3-degree contact is strong) — the standard refinement of
    :func:`common_neighbor_candidates`'s raw count.

    Same wedge-join scale shape as common_neighbor_candidates (Σdeg²
    enumeration bounded by u < w orientation and the
    ``max_center_degree`` hub cap); the only addition is the center's
    weight stamped onto each wedge row BEFORE the (u, w) groupBy, so
    the aggregate stays map-combinable.  Degree-1 centers are dropped
    (1/ln(1) is undefined, and a degree-1 vertex closes no wedge
    anyway — semantics-neutral).

    Float determinism: the per-center weight is ONE double division of
    an exact integer's ln, rounded to 9 and cast to DECIMAL(38,12);
    the per-pair sum is exact-decimal (order-independent); the
    published score is one double cast rounded to 6 — the decimal, not
    the double, is the sort key, so the top-k cut is engine-stable.
    """
    # deg's lazy checkpoint compiles as its own RDD lineage, so its
    # materialization re-reads the source outside the final query's
    # exchange reuse — the meter reads 2.0 passes.  Both 1-pass
    # variants were MEASURED SLOWER here and kept out: an eager canon
    # checkpoint (the g20 fix) flipped the weight-stamp join's build
    # side onto the 2|E| union and timed 4.1→6.2 s; inlining deg
    # recomputed the 2|E| aggregate per consumer, similar cost.  The
    # second pass is a 2-column pruned scan — at scale comparable to
    # the |E|-row checkpoint write+read the 1-pass shape pays instead,
    # so the r12 shape stands.
    canon = _undirected(edges, src_col, dst_col)
    nb = canon.select(F.col("a").alias("c"), F.col("b").alias("n")).unionAll(
        canon.select(F.col("b").alias("c"), F.col("a").alias("n"))
    )
    deg = (
        nb.groupBy(F.col("n").alias("v"))
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    if max_center_degree is not None:
        hubs = deg.filter(F.col("d") > max_center_degree).select(
            F.col("v").alias("c")
        )
        nb = nb.join(F.broadcast(hubs), "c", "left_anti")
    # stamp the center's AA weight onto its neighbor rows once (|E|·2
    # rows), not onto wedge rows (Σdeg² rows) — the join is by far the
    # smaller relation side
    wdeg = deg.filter(F.col("d") >= 2).select(
        F.col("v").alias("c"),
        F.round(F.lit(1.0) / F.log(F.col("d").cast("double")), 9)
        .cast("decimal(38,12)")
        .alias("wc"),
    )
    nbw = nb.join(wdeg, "c")
    left = nbw.select("c", F.col("n").alias("u"), "wc")
    right = nbw.select(F.col("c").alias("c2"), F.col("n").alias("w"))
    aa = (
        left.join(right, (F.col("c") == F.col("c2")) & (F.col("u") < F.col("w")))
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("wc").alias("__s"),
        )
    )
    non_edges = aa.join(
        canon,
        (aa["u"] == canon["a"]) & (aa["w"] == canon["b"]),
        "left_anti",
    )
    return (
        non_edges.orderBy(F.col("__s").desc(), "u", "w")
        .limit(k)
        .select(
            "u",
            "w",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(F.col("__s").cast("double"), 6).alias("adamic_adar"),
        )
    )


def katz_centrality(
    edges: DataFrame,
    *,
    n_iters: int = 2,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Fixed-iteration KATZ centrality with α = 1/2, β = 1 over the
    distinct directed edge set → (id, katz):
    ``x_{k+1}(v) = 1 + α · Σ_{(u,v)∈E} x_k(u)``, x₀ = 1 — the
    attenuated path-count centrality between degree (α→0) and the
    eigenvector limit.

    Integer-exact variant (the hits/pagerank discipline, pushed one
    step further): scores are carried in UNITS of 2^-n_iters, i.e. as
    the integer ``u_k = x_k · 2^n_iters``.  By induction u_k is always
    divisible by 2^(n_iters-k), so each iteration's halving
    ``u_{k+1} = 2^n_iters + (Σ u_k) DIV 2`` is an EXACT integer
    division — no decimal, no float, nothing to round until the final
    single division by 2^n_iters (a dyadic rational, exact in any
    double).  The dyadic α is what buys this; a general α would need
    the pagerank DECIMAL discipline instead.

    Scale shape per iteration: one (edge ⋈ score) hash join + one
    map-combinable integer groupBy; scores stay distributed.
    Zero-in-degree vertices re-attach via one left join at the end
    (their score is the closed-form base, 1 + α·0 = 1... after one
    round — kept in-loop here since Katz's +1 regrows every vertex
    each round anyway).

    Overflow is GUARDED, not assumed away: per-vertex units grow like
    2^n_iters·(deg/2+1)^k on hub-heavy graphs, so each iteration sums
    in DECIMAL(38,0) (exact to 10^38) and raise_error()s in-plan if a
    hub's Σu_k exceeds 2^62 — past that the +unit/DIV 2 arithmetic of
    the NEXT round could wrap int64 silently under non-ANSI Spark.
    The n_iters≤16 ceiling alone does not bound this."""
    if not 1 <= n_iters <= 16:
        raise ValueError("n_iters must be in [1, 16]")
    unit = 1 << n_iters
    e, verts = _distinct_edges_and_vertices(edges, src_col, dst_col)
    x = verts.select("__v", F.lit(unit).cast("long").alias("__u"))
    for _ in range(n_iters):
        s = (
            e.join(x, e["__s"] == x["__v"])
            .groupBy("__d")
            .agg(
                F.sum(F.col("__u").cast("decimal(38,0)")).alias("__sumd")
            )
            .select(
                "__d",
                F.when(
                    F.col("__sumd") > F.lit(1 << 62).cast("decimal(38,0)"),
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "katz_centrality: score units overflow "
                                "int64 headroom (sum > 2^62) at vertex "
                            ),
                            F.col("__d").cast("string"),
                            F.lit("; lower n_iters for this graph"),
                        )
                    ),
                )
                .otherwise(F.col("__sumd").cast("long"))
                .cast("long")
                .alias("__sum"),
            )
        )
        x = verts.join(s, verts["__v"] == s["__d"], "left").select(
            "__v",
            (
                F.lit(unit).cast("long")
                + F.expr("coalesce(__sum, 0L) DIV 2")
            ).alias("__u"),
        )
    return x.select(
        F.col("__v").alias("id"),
        (F.col("__u").cast("double") / F.lit(float(unit))).alias("katz"),
    )


def bipartiteness(
    edges: DataFrame,
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Exact per-component bipartiteness via the BIPARTITE DOUBLE COVER
    reduction → (component, n_vertices, is_bipartite): component C is
    bipartite iff its double cover (each v splits into v₀/v₁; every
    edge (u,v) becomes (u₀,v₁) and (u₁,v₀)) splits into TWO components
    — an odd cycle is exactly what fuses the copies.  That turns an
    odd-cycle search into two runs of the existing connected-components
    operator: no coloring state, no backtracking, exact at any scale.
    Self-loops count as odd cycles (v₀—v₁ directly).

    Scale shape: CC on G (edge-incident vertices) + CC on the 2×-size
    double cover + one copies-fused groupBy — all the CC operator's
    min-label propagation rounds, bounded driver state throughout."""
    from duckdb_graphar_spark.operators.dedup import connected_components

    s, d = F.col(src_col), F.col(dst_col)
    # e feeds SIX consumers (verts×2, base CC edges, double-cover
    # edges×2 — and verts itself is consumed twice more for dc_verts),
    # so without materialization the upstream edge scan re-runs once
    # per consumer: the final-plan audit measured SIX full source
    # reads, and the cross-execution meter
    # (scripts/measure_source_reads.py) EIGHT — the two CC calls'
    # internal checkpoint builders re-scan the source too.  One eager
    # localCheckpoint of the two-column edge projection (O(E), the same
    # storage class as the CC operator's own internal sym checkpoint)
    # collapses all of them to one.
    e = edges.select(s.alias("u"), d.alias("w")).localCheckpoint(eager=True)
    verts = _endpoints(e, "u", "w").distinct().localCheckpoint(eager=True)
    base = connected_components(
        e.select(F.col("u").alias("id_a"), F.col("w").alias("id_b")), verts
    )
    dc_edges = e.select(
        (F.col("u") * 2).alias("id_a"), (F.col("w") * 2 + 1).alias("id_b")
    ).unionAll(
        e.select((F.col("u") * 2 + 1).alias("id_a"), (F.col("w") * 2).alias("id_b"))
    )
    dc_verts = verts.select((F.col("v") * 2).alias("v")).unionAll(
        verts.select((F.col("v") * 2 + 1).alias("v"))
    )
    dc = connected_components(dc_edges, dc_verts)
    # copies fused ⇔ v's two cover copies share a double-cover label
    fused = (
        dc.select((F.floor(F.col("v") / 2)).cast("long").alias("__v"), "label")
        .groupBy("__v")
        .agg((F.count_distinct("label") == 1).alias("__fused"))
    )
    return (
        base.select(F.col("v").alias("__v"), F.col("label").alias("component"))
        .join(fused, "__v")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            (~F.max("__fused")).alias("is_bipartite"),
        )
    )


def ktruss(
    edges: DataFrame,
    k: int,
    *,
    n_iters: int = 2,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Fixed-iteration k-truss peeling over the undirected simple
    graph: each round computes every edge's SUPPORT (the number of
    triangles it closes = common neighbors of its endpoints) and drops
    edges with support < k-2 — the edge-granularity sibling of
    :func:`kcore`'s vertex peeling, and the standard cohesive-subgraph
    primitive (a k-truss is a stricter community signal than a
    k-core).  ``n_iters`` bounded rounds keep the result exactly
    SQL-replayable as an unrolled CTE chain.

    Returns (a, b, support): ALL surviving undirected edges (a < b)
    with their support measured in the FINAL surviving subgraph (one
    extra support pass after the last filter, left-joined back so
    survivors whose support dropped to 0 in the final subgraph still
    appear — with support 0 — rather than being silently omitted).

    Scale shape per round: support counting is DEGREE-ORDERED oriented
    triangle enumeration (the compact-forward plan): orient every edge
    from its lower-(degree, id) endpoint to the higher, enumerate
    wedges only among each vertex's OUT-neighbors, close them against
    the oriented edge set, and explode each triangle onto its 3 edges
    for one map-combinable count.  Work is Σ|N⁺(v)|² ≤ O(|E|^1.5)
    instead of the naive Σdeg² — hub-robust by construction: a
    power-law hub's neighbors are mostly lower-degree, so its
    out-degree (and its wedge contribution) stays small, which is why
    no ``max_degree`` cap is needed for exactness OR scale (unlike
    :func:`common_neighbor_candidates`, whose per-center wedge OUTPUT
    is inherently Σdeg(c)² and needs the cap dial).  The edge relation
    shrinks monotonically; no driver state beyond the loop counter.
    """
    if k < 3:
        raise ValueError("k-truss needs k >= 3 (k-2 >= 1)")
    e = _undirected(edges, src_col, dst_col)

    def support(e_df: DataFrame) -> DataFrame:
        # each triangle (degree-ordered enumeration, exactly once)
        # supports all 3 of its (canonical a<b) edges; materialize the
        # oriented edge set — it feeds both wedge legs AND the closing
        # join, and without the cut each consumer re-runs the
        # degree-stamp joins over the whole upstream peel chain
        return (
            _oriented_triangles(e_df, materialize=True)
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.least("u", "y").alias("a"), F.greatest("u", "y").alias("b")
                        ),
                        F.struct(
                            F.least("u", "z").alias("a"), F.greatest("u", "z").alias("b")
                        ),
                        F.struct(
                            F.least("y", "z").alias("a"), F.greatest("y", "z").alias("b")
                        ),
                    )
                ).alias("__e")
            )
            .select(F.col("__e.a").alias("a"), F.col("__e.b").alias("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
        )

    for it in range(n_iters):
        sup = support(e)
        # edges closing zero triangles are absent from `sup`: the inner
        # join drops them, which is exactly support < k-2 for k >= 3.
        # Cut every round: the next round's support consumes this edge
        # set several times (degree stamp + orientation + closing), so
        # an uncut chain re-executes the whole previous peel per use
        e = (
            sup.filter(F.col("support") >= k - 2)
            .select("a", "b")
            # eager: the next support pass consumes this edge set from
            # several subtrees (degree stamp both legs + orientation)
            .localCheckpoint(eager=True)
        )
    # the final pass re-reads `e` twice (left side + support's input)
    return e.join(support(e), ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support"),
    )


def _min_label_fixpoint(
    edges: DataFrame,
    labels: DataFrame,
    *,
    max_iters: int,
    tag_col: str | None = None,
    error: Exception | None = None,
) -> DataFrame:
    """Directed min-label propagation to FIXPOINT: lab(v) ← min(lab(v),
    min lab(w) over edges v→w), iterated until a full pass changes no
    label — so lab(v) converges to min(id(u) : u reachable FROM v,
    including v).  ``edges`` is (u, w); ``labels`` is (v, lab) seeding
    lab(v)=v.  Over a SYMMETRIC edge set this is connected components
    (``dedup.connected_components``' distributed path).  Raises
    ``error`` (default: a RuntimeError) if ``max_iters`` passes don't
    converge — the loop is :func:`_fixpoint`, exact or raise, one count
    job per pass on top of the step's join stages.

    Each pass combines the one-hop neighbor-min with the POINTER-
    DOUBLING shortcut lab(v) ← min(lab(v), lab(lab(v))) — valid for
    reachability min-labels because lab(v) is (inductively) a vertex
    reachable from v, so everything reachable from lab(v) is reachable
    from v; the fixpoint is the same unique min-reachable-id labeling,
    reached in O(log diameter) passes instead of O(diameter).

    ``tag_col``: optional extra key column present on BOTH ``edges``
    and ``labels`` — propagation runs independently within each tag
    value (joins and aggregates are keyed (vertex, tag)).  This lets
    one loop drive several independent propagations (scc runs its
    forward and backward sweeps as two tags of one fixpoint, so the
    pass count per peel round is max(fw, bw) instead of fw + bw)."""
    tags = [] if tag_col is None else [tag_col]

    def step(lab: DataFrame) -> DataFrame:
        nbr = lab.select(
            F.col("v").alias("__w"),
            *[F.col(t).alias(f"__wt_{t}") for t in tags],
            F.col("lab").alias("__wl"),
        )
        succ = edges.join(
            nbr,
            on=[edges["w"] == nbr["__w"]]
            + [edges[t] == nbr[f"__wt_{t}"] for t in tags],
        ).select(
            edges["u"].alias("v"),
            *[edges[t] for t in tags],
            F.col("__wl").alias("__cand"),
        )
        # lab values are vertex ids of this same table (seeded lab=v,
        # propagated as mins of existing labels), so the shortcut join
        # always finds its key; LEFT + coalesce keeps it total anyway
        shortcut = lab.select(
            F.col("v").alias("__lv"),
            *[F.col(t).alias(f"__t_{t}") for t in tags],
            F.col("lab").alias("__ll"),
        )
        return (
            lab.join(
                succ.groupBy("v", *tags).agg(F.min("__cand").alias("__m")),
                ["v", *tags],
                "left",
            )
            .select(
                "v",
                *tags,
                F.least(F.col("lab"), F.coalesce("__m", F.col("lab"))).alias("__mid"),
                F.col("lab"),
            )
            .join(
                shortcut,
                on=[F.col("__mid") == F.col("__lv")]
                + [F.col(t) == F.col(f"__t_{t}") for t in tags],
                how="left",
            )
            .select(
                "v",
                *tags,
                F.least(
                    F.col("__mid"), F.coalesce(F.col("__ll"), F.col("__mid"))
                ).alias("__new"),
                F.col("lab"),
            )
        )

    return _fixpoint(
        labels.localCheckpoint(eager=True),
        step,
        max_iters=max_iters,
        value="lab",
        error=error
        or RuntimeError(
            f"_min_label_fixpoint: no fixpoint within {max_iters} rounds "
            "(raise max_iters; propagation needs O(log(longest shortest path)) passes)"
        ),
    )


def scc(
    edges: DataFrame,
    *,
    max_rounds: int = 10,
    max_iters: int = 30,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Strongly connected components of the DIRECTED graph → (v, label),
    label = the smallest vertex id in v's SCC.  EXACT — returns only at
    full convergence, else raises (no silently-approximate partition).

    The FW-BW coloring scheme with TRIM, set-free: each peel round
    first TRIMS to stability — a vertex with no in-edges or no
    out-edges in the remaining graph sits on no cycle, so it is a
    singleton SCC (label = itself); trimming repeatedly eats the whole
    DAG periphery at two distinct-projections + anti-joins per pass,
    the Slota-style step that keeps the expensive fixpoints for actual
    cycles.  Then compute F(v) = min id reachable FROM v (forward
    min-label fixpoint) and B(v) = min id that REACHES v (the same
    fixpoint on reversed edges, both run as ONE fused tagged
    fixpoint).  F(v)=B(v)=r means v→r and r→v, so all such v are
    mutually reachable THROUGH r — exactly SCC(r).  Assign them, and
    REFINE the remainder by (F, B) pair: two vertices of one SCC have
    identical reach sets both ways, hence identical pairs, so every
    cross-pair edge is droppable (the FW-BW coloring refinement) — an
    id-ascending SCC chain splits into independent per-band classes in
    one round instead of peeling one level per round.  Repeat on the
    remainder.  Progress is guaranteed (the remainder's global-min SCC
    always satisfies F=B); ``max_rounds`` bounds adversarial chains
    whose unassigned bands keep sharing pairs (next global min two
    bands downstream).  Random/fixture graphs peel in 1–2 rounds (one
    giant SCC + a trimmed periphery).

    Scale shape: every step is joins + min-aggregates over (v, lab)
    pairs — no closure materialization, no driver state beyond loop
    counters and O(1) convergence aggregates; each fixpoint pass costs
    O(|E|) shuffle like one connected-components round."""
    s, d = F.col(src_col), F.col(dst_col)
    e = edges.select(s.alias("u"), d.alias("w")).filter(F.col("u") != F.col("w")).distinct()
    verts = _endpoints(e, "u", "w").distinct()
    # self-loop-only vertices are their own SCCs; they're in verts via
    # the pre-filter union below
    loops = (
        edges.filter(s == d).select(s.alias("v")).distinct()
    )
    # ONE union-tagged materialization for the edge AND vertex base
    # relations (r12 ran two eager checkpoint jobs, each re-scanning
    # the source): within the single fused query the canonical edge
    # distinct is one reused exchange, so the source is read once
    dst_type = edges.schema[dst_col].dataType
    base = (
        e.select("u", "w", F.lit(0).alias("__t"))
        .unionByName(
            verts.unionAll(loops)
            .distinct()
            .select(
                F.col("v").alias("u"),
                F.lit(None).cast(dst_type).alias("w"),
                F.lit(1).alias("__t"),
            )
        )
        .localCheckpoint(eager=False)
    )
    _rows(base)  # the checkpoint's own full materialization job
    e = base.filter(F.col("__t") == 0).select("u", "w")
    verts = base.filter(F.col("__t") == 1).select(F.col("u").alias("v"))
    spark = edges.sparkSession
    assigned = spark.createDataFrame([], "v long, label long")
    for _ in range(max_rounds):
        # --- trim to stability: no-in or no-out vertices are singleton
        # SCCs (nothing with a cycle through it can lack either side).
        # ONE union-tagged frame carries the trimmed set (__t=2), the
        # surviving vertices (__t=1) and the surviving edges (__t=0),
        # so a single aggregate action per pass materializes all three
        # updates AND reads out both convergence counts — r12 paid
        # three jobs per pass (trimmed count + eager verts checkpoint
        # + eager e checkpoint) plus a limit(1) emptiness probe after
        # the loop.  The lazy mark is safe because the aggregate is
        # the frame's OWN immediate full materialization (the
        # trimmed/stepped/relaxed count rule); later consumers only
        # see already-persisted blocks.
        w_type = e.schema["w"].dataType
        n_verts = None
        for _t in range(max_iters):
            has_out = e.select(F.col("u").alias("v")).distinct()
            has_in = e.select(F.col("w").alias("v")).distinct()
            on_cycle_candidates = has_out.join(has_in, "v", "inner")
            trimmed = verts.join(on_cycle_candidates, "v", "left_anti")
            new_verts = verts.join(trimmed, "v", "left_anti")
            new_e = (
                e.join(trimmed.select(F.col("v").alias("u")), "u", "left_anti")
                .join(trimmed.select(F.col("v").alias("w")), "w", "left_anti")
            )
            ve = (
                new_e.select("u", "w", F.lit(0).alias("__t"))
                .unionByName(
                    new_verts.select(
                        F.col("v").alias("u"),
                        F.lit(None).cast(w_type).alias("w"),
                        F.lit(1).alias("__t"),
                    )
                )
                .unionByName(
                    trimmed.select(
                        F.col("v").alias("u"),
                        F.lit(None).cast(w_type).alias("w"),
                        F.lit(2).alias("__t"),
                    )
                )
                .localCheckpoint(eager=False)
            )
            counts = ve.select(
                F.sum((F.col("__t") == 2).cast("long")).alias("nt"),
                F.sum((F.col("__t") == 1).cast("long")).alias("nv"),
            ).first()
            n_trim = counts["nt"] or 0
            n_verts = counts["nv"] or 0
            verts = ve.filter(F.col("__t") == 1).select(F.col("u").alias("v"))
            e = ve.filter(F.col("__t") == 0).select("u", "w")
            if n_trim == 0:
                break
            # plain union of checkpointed frames — trivial lineage, no
            # materialization job of its own
            assigned = assigned.unionAll(
                ve.filter(F.col("__t") == 2).select(
                    F.col("u").alias("v"), F.col("u").cast("long").alias("label")
                )
            )
        if n_verts == 0:
            return assigned
        # one fused fixpoint drives BOTH sweeps: forward edges tagged 0,
        # reversed edges tagged 1, labels keyed (v, dir) — the pass
        # count per peel round is max(fw, bw) instead of fw + bw, and
        # each pass is one job over double-height (still tiny) frames
        seed = verts.select("v", F.col("v").alias("lab"))
        # NOTE: checkpointed frames come back in PHYSICAL attribute
        # order (a post-join LogicalRDD can report [w, u]) — use
        # explicit selects + unionByName, never positional unionAll,
        # when a checkpoint output feeds a union
        both_e = (
            e.select("u", "w")
            .withColumn("__dir", F.lit(0))
            .unionByName(
                e.select(
                    F.col("w").alias("u"), F.col("u").alias("w")
                ).withColumn("__dir", F.lit(1))
            )
        )
        both_seed = seed.withColumn("__dir", F.lit(0)).unionByName(
            seed.withColumn("__dir", F.lit(1))
        )
        fb = _min_label_fixpoint(
            both_e, both_seed, max_iters=max_iters, tag_col="__dir"
        )
        fwd = fb.filter(F.col("__dir") == 0).select("v", "lab")
        bwd = fb.filter(F.col("__dir") == 1).select("v", "lab")
        # per-vertex (F, B) pair: F(v)=B(v)=r ⟺ v ↔ r (assign SCC(r));
        # beyond that, two vertices with DIFFERENT pairs can never share
        # an SCC (u↔v forces equal reach sets both ways, hence equal
        # min-labels), so every cross-pair edge is droppable — the
        # FW-BW refinement that splits a k-deep SCC chain into
        # independent classes instead of peeling one level per round
        # one EAGER cut of the pair table (parents are the fixpoint's
        # already-materialized checkpoints); done/cu/cw are then free
        # projections over it — no further marks in this round's jobs
        pr = (
            fwd.join(
                bwd.select(F.col("v").alias("__v"), F.col("lab").alias("__b")),
                fwd["v"] == F.col("__v"),
            )
            .select("v", F.col("lab").alias("__f"), F.col("__b"))
            .localCheckpoint(eager=True)
        )
        done = pr.filter(F.col("__f") == F.col("__b")).select(
            "v", F.col("__f").cast("long").alias("label")
        )
        assigned = assigned.unionAll(done)
        # lazy checkpoint + count: one job updates the vertex set AND
        # gates the pair refinement below — on graphs that resolve in
        # this round (fixture-typical: one giant SCC + trimmed
        # periphery) the refinement's bad-edge anti-join and the eager
        # e rewrite are pure cost (the r12 driver measured g24 0.82×),
        # so skip them, and the next round's trim pass + emptiness
        # probe, entirely.  Multi-round graphs (deep SCC chains, g25's
        # band fixture) still get the refinement, which is what splits
        # an id-ascending chain into per-band classes in one round.
        verts = verts.join(done.select("v"), "v", "left_anti").localCheckpoint(
            eager=False
        )
        if _rows(verts) == 0:
            return assigned
        cu = pr.select(
            F.col("v").alias("u"), F.col("__f").alias("__fu"), F.col("__b").alias("__bu")
        )
        cw = pr.select(
            F.col("v").alias("w"), F.col("__f").alias("__fw"), F.col("__b").alias("__bw")
        )
        # keep only same-pair edges among NOT-yet-assigned classes (a
        # done vertex's pair has __f == __b, so its class's edges drop
        # too).  Spelled as an ANTI join against the bad-edge set, not
        # an inner-join filter: Catalyst's size estimate for a LEFT
        # ANTI join is the left side alone, while the inner form's
        # size product would be recorded on this checkpoint and then
        # COMPOUND through every later round's checkpoints (each
        # Dataset.checkpoint copies its origin plan's stats into the
        # LogicalRDD) until sizeInBytes becomes a BigInt with millions
        # of digits and stats estimation itself dominates planning.
        bad = (
            e.join(cu, "u")
            .join(cw, "w")
            .filter(
                (F.col("__fu") != F.col("__fw"))
                | (F.col("__bu") != F.col("__bw"))
                | (F.col("__fu") == F.col("__bu"))
            )
            .select("u", "w")
        )
        e = e.join(bad, ["u", "w"], "left_anti").localCheckpoint(eager=True)
    left = _rows(verts)
    if left == 0:
        return assigned
    raise RuntimeError(
        f"scc: {left} vertices unassigned after {max_rounds} peel "
        "rounds (raise max_rounds; adversarial SCC-chain graphs peel one "
        "condensation level per round)"
    )


def condensation_levels(
    edges: DataFrame,
    *,
    max_rounds: int = 10,
    max_iters: int = 30,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Topological LAYERING of the SCC condensation → (component,
    level, n_vertices): contract every strongly connected component
    (:func:`scc`) to one node, then level(c) = length of the LONGEST
    path from any source to c in the (acyclic by construction)
    condensation — the dependency-depth / build-stage primitive
    (level k can only start after every level < k it depends on).

    EXACT or raises: the longest-path fixpoint (:func:`_fixpoint`)
    relaxes lev(c) ← max(lev(c), max over preds lev(p)+1) one O(|E'|)
    join per pass and must converge within ``max_iters`` (the condensation's
    depth is ≤ its node count; non-convergence means max_iters is too
    small — a cycle is impossible, scc contracted them all).

    Scale shape: scc's peeling + one distinct (label, label) projection
    for the condensation + depth-bounded relaxation passes over
    (component, level) pairs; O(1) driver state throughout.

    Adaptive fast path (the dedup connected_components discipline): the
    condensation is the CONTRACTED graph — orders of magnitude smaller
    than the input whenever components are non-trivial — so when its
    edge count is ≤ ``driver_threshold``, one bounded collect + a
    driver-side topological DP replaces O(depth) distributed relaxation
    passes (a depth-D condensation costs D+1 join/aggregate rounds
    distributed, each a scheduler-floor job at fixture scale and a full
    barrier at cluster scale).  The probe is limit(threshold+1) — when
    the limit isn't hit the probe result IS the edge list, so the fast
    path costs one job; larger condensations take the distributed loop
    unchanged (set ``driver_threshold=0`` to force it)."""
    labels = scc(
        edges,
        max_rounds=max_rounds,
        max_iters=max_iters,
        src_col=src_col,
        dst_col=dst_col,
    ).localCheckpoint(eager=True)
    s, d = F.col(src_col), F.col(dst_col)
    e = edges.select(s.alias("u"), d.alias("w"))
    la = labels.select(F.col("v").alias("__u"), F.col("label").alias("cu"))
    lb = labels.select(F.col("v").alias("__w"), F.col("label").alias("cw"))
    cond = (
        e.join(la, e["u"] == la["__u"])
        .join(lb, e["w"] == lb["__w"])
        .filter(F.col("cu") != F.col("cw"))
        .select(F.col("cu").alias("cs"), F.col("cw").alias("cd"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lev = None
    if driver_threshold > 0:
        probe = cond.limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            spark = edges.sparkSession
            # Kahn topological DP: level(c) = longest source→c path.
            # Raises on a cycle like the distributed loop would fail to
            # converge — scc contracted all cycles, so leftovers mean a
            # broken labeling, never silent partial levels.
            indeg: dict = {}
            succs: dict = {}
            for cs, cd in probe:
                succs.setdefault(cs, []).append(cd)
                indeg[cd] = indeg.get(cd, 0) + 1
                indeg.setdefault(cs, 0)
            from collections import deque

            ready = deque(c for c, d in indeg.items() if d == 0)
            levmap = {c: 0 for c in ready}
            seen = 0
            while ready:
                c = ready.popleft()
                seen += 1
                for nxt in succs.get(c, ()):
                    levmap[nxt] = max(levmap.get(nxt, 0), levmap[c] + 1)
                    indeg[nxt] -= 1
                    if indeg[nxt] == 0:
                        ready.append(nxt)
            if seen != len(indeg):
                raise RuntimeError(
                    "condensation_levels: cycle in the condensation "
                    "(scc labeling is broken)"
                )
            pos_rows = [(int(c), int(l)) for c, l in levmap.items() if l > 0]
            comps = labels.select(F.col("label").alias("c")).distinct()
            if pos_rows:
                levdf = spark.createDataFrame(pos_rows, "c long, lev long")
                lev = comps.join(F.broadcast(levdf), "c", "left").select(
                    "c", F.coalesce(F.col("lev"), F.lit(0)).cast("long").alias("lev")
                )
            else:
                lev = comps.select("c", F.lit(0).cast("long").alias("lev"))
    if lev is None:

        def relax(lev: DataFrame) -> DataFrame:
            pred = cond.join(
                lev.select(F.col("c").alias("__p"), F.col("lev").alias("__pl")),
                cond["cs"] == F.col("__p"),
            ).select(F.col("cd").alias("c"), (F.col("__pl") + 1).alias("__cand"))
            return lev.join(
                pred.groupBy("c").agg(F.max("__cand").alias("__m")), "c", "left"
            ).select(
                "c",
                F.greatest(F.col("lev"), F.coalesce("__m", F.col("lev"))).alias("__new"),
                "lev",
            )

        lev = _fixpoint(
            labels.select(F.col("label").alias("c"))
            .distinct()
            .select("c", F.lit(0).cast("long").alias("lev"))
            .localCheckpoint(eager=True),
            relax,
            max_iters=max_iters,
            value="lev",
            error=RuntimeError(
                f"condensation_levels: no fixpoint within {max_iters} relaxation "
                "passes (condensation deeper than max_iters)"
            ),
        )
    sizes = labels.groupBy(F.col("label").alias("c")).agg(
        F.count(F.lit(1)).alias("n_vertices")
    )
    return lev.join(sizes, "c").select(
        F.col("c").alias("component"),
        F.col("lev").cast("long").alias("level"),
        F.col("n_vertices").cast("long").alias("n_vertices"),
    )


def bfs_distances(
    edges: DataFrame,
    src_vid: int,
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    max_depth: int = 6,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """Per-vertex BFS depth from ``src_vid`` → (v, dist), dist 0 = the
    source, capped at ``max_depth`` (unreached vertices are absent).
    The per-vertex sibling of :func:`bfs_levels`' histogram, from the
    same :func:`_bfs_sweep`; driver state is the level sizes.  The
    result is eagerly checkpointed (O(reached vertices) rows), so it
    never recomputes the BFS from raw lineage."""
    _, reached = _bfs_sweep(
        edges,
        [src_vid],
        src_col=src_col,
        dst_col=dst_col,
        max_depth=max_depth,
        broadcast_threshold=broadcast_threshold,
        distances=True,
    )
    return reached.select(F.col("__v").alias("v"), "dist")


def pseudo_diameter(
    edges: DataFrame,
    start: int = 0,
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    max_depth: int = 6,
) -> DataFrame:
    """Double-BFS pseudo-diameter over the UNDIRECTED graph (the
    standard lower-bound estimate: BFS from ``start``, hop to the
    farthest vertex — ties to the lowest id — and its eccentricity
    from a second BFS is the estimate).  Both sweeps are capped at
    ``max_depth``, making the result exactly replayable as two bounded
    recursive CTEs.  Returns one row
    (start, peripheral, first_ecc, pseudo_diameter).

    Scale shape: two level-synchronous BFS runs (each a join per
    level) + ONE bounded 1-row collect between them (the peripheral
    pick) — the double-sweep pattern used by graph tools to seed
    diameter computations."""
    both = _symmetric(edges, src_col, dst_col)
    d1 = bfs_distances(
        both, start, src_col="a", dst_col="b", max_depth=max_depth
    )
    far = d1.orderBy(F.col("dist").desc(), F.col("v")).limit(1).collect()[0]
    d2 = bfs_distances(
        both, int(far.v), src_col="a", dst_col="b", max_depth=max_depth
    )
    ecc = d2.agg(F.max("dist")).first()[0]
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(int(start), int(far.v), int(far.dist), int(ecc))],
        "start long, peripheral long, first_ecc int, pseudo_diameter int",
    )


def multi_source_bfs(
    edges: DataFrame,
    sources: list[int],
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    max_depth: int = 6,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """Level-synchronous BFS from MANY sources simultaneously →
    (source, v, dist): the frontier is keyed (source, vertex), so one
    sweep answers all |S| single-source problems — the landmark /
    seed-set primitive behind closeness estimates, landmark distance
    labeling, and distance-to-known-spam features, where running
    :func:`bfs_distances` |S| times would pay |S| full edge scans per
    level instead of one.

    The level loop is :func:`_bfs_sweep` keyed by source: each level is
    ONE join of the edge relation against the (broadcast-when-small)
    composite frontier, distinct + anti-join against the per-source
    visited set fused into one aggregate, and an eager checkpoint of the
    O(Σ reached) result."""
    if not sources:
        raise ValueError("sources must be non-empty")
    if len(set(sources)) != len(sources):
        raise ValueError("sources must be distinct")
    _, reached = _bfs_sweep(
        edges,
        sources,
        src_col=src_col,
        dst_col=dst_col,
        max_depth=max_depth,
        broadcast_threshold=broadcast_threshold,
        keyed=True,
        distances=True,
    )
    return reached.select(F.col("__src").alias("source"), F.col("__v").alias("v"), "dist")


def seed_set_closeness(
    edges: DataFrame,
    sources: list[int],
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    max_depth: int = 6,
) -> DataFrame:
    """Seed-set closeness summary from one :func:`multi_source_bfs`
    sweep → (v, n_sources, total_dist): how many of the |S| seeds reach
    each vertex within ``max_depth`` and the integer sum of those
    distances — the landmark-closeness feature (the sampled estimator
    of closeness centrality uses exactly these sums) with no floats, so
    it replays exactly in SQL.  Aggregation is one map-combinable
    groupBy over the O(Σ reached) BFS output."""
    d = multi_source_bfs(
        edges,
        sources,
        src_col=src_col,
        dst_col=dst_col,
        max_depth=max_depth,
    )
    return d.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("dist").cast("long").alias("total_dist"),
    )


def luby_mis(
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    vertex_col: str = "v",
    rounds: int = 3,
    seed: str = "mis0",
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    adjacency: DataFrame | None = None,
) -> DataFrame:
    """Luby's MAXIMAL INDEPENDENT SET, fixed-round, with
    CONTENT-ADDRESSED priorities → (v, status ∈ {'in','out',
    'undecided'}): each round every undecided vertex whose priority is
    strictly smaller than all its undecided neighbors' joins the set,
    and its neighbors drop out.  MIS is THE symmetry-breaking
    primitive distributed graph algorithms build on (coloring,
    matching, scheduling) and classically needs randomness — here the
    priority is md5(seed ‖ v) ‖ zero-padded v, which is (a) provably
    unique (the 20-digit pad covers the full int64 range, so the id
    suffix is injective and breaks even an md5 collision), (b) adversary-
    free like a random draw, and (c) REPLAYABLE: the same string
    arithmetic runs in SQL, so a fixed-round run has a full value
    oracle — the t36/q80 determinism discipline applied to an
    iterative graph algorithm.

    Independence of each round's joiners is structural (adjacent
    joiners would each need the strictly smaller priority).  After
    ``rounds`` rounds remaining vertices report 'undecided' — the
    fixed budget is what keeps the oracle an unrollable CTE chain; by
    Luby's analysis each round decides a constant expected fraction,
    so the undecided tail shrinks geometrically.

    Scale shape per round: one (edge ⋈ undecided ⋈ undecided) join +
    one map-combinable MIN per vertex + two anti-joins — no driver
    state beyond the loop counter, no collects; lineage cut per round.

    Vertex universe: edge-INCIDENT vertices by default (the edge list
    is the only input).  Pass ``vertices`` (column ``vertex_col``) to
    also emit ISOLATED vertices — they have no neighbors, so they
    trivially belong to every MIS and are reported 'in'.

    ``adjacency``: optional pre-built adjacency — must be SYMMETRIC,
    self-loop-free, deduplicated, columns (a, b).  When given,
    ``edges`` is ignored and the union+distinct symmetrization is
    skipped entirely (greedy_coloring builds the closure once and
    restricts it per color with two semi-joins, instead of paying a
    fresh 2|E| distinct shuffle per color class)."""
    prio = F.concat(
        F.md5(F.concat_ws("\x1f", F.lit(seed), F.col("v").cast("string"))),
        F.lpad(F.col("v").cast("string"), 20, "0"),
    )
    with _pinned() as pin:
        # a caller-owned adjacency is NOT pinned here — unpersisting a
        # plan-identical frame would evict the caller's own cache entry
        adj = (
            adjacency.select("a", "b")
            if adjacency is not None
            else pin(_symmetric(edges, src_col, dst_col).distinct())
        )
        und = pin(adj.select(F.col("a").alias("v")).distinct().withColumn("p", prio))
        statuses: list[DataFrame] = []
        for _ in range(rounds):
            nb_min = (
                adj.join(und.select(F.col("v").alias("a")), "a")
                .join(
                    und.select(F.col("v").alias("b"), F.col("p").alias("__pb")),
                    "b",
                )
                .groupBy(F.col("a").alias("v"))
                .agg(F.min("__pb").alias("__mn"))
            )
            new_m = pin(
                und.join(nb_min, "v", "left")
                .filter(F.col("__mn").isNull() | (F.col("p") < F.col("__mn")))
                .select("v")
            )
            # neighbors of the joiners (possibly with duplicates — the
            # semi-join against the unique `und` re-establishes
            # uniqueness for free, so no distinct shuffle is needed)
            nbr = adj.join(new_m.select(F.col("v").alias("a")), "a").select(
                F.col("b").alias("v")
            )
            removed = pin(
                und.select("v").join(nbr, "v", "left_semi").join(new_m, "v", "left_anti")
            )
            statuses.append(new_m.withColumn("status", F.lit("in")))
            statuses.append(removed.withColumn("status", F.lit("out")))
            # lazy checkpoint + count: ONE job materializes the round's
            # update (new_m/removed caches fill as its ancestors) AND
            # answers the emptiness probe — r12 paid an eager und
            # checkpoint job plus a separate isEmpty job per round.
            # Safe lazily because the count is the frame's own full
            # materialization (the scc trim-loop rule); a WIDER fusion
            # (tagged union of removed+next-und) was tried and measured
            # 2.2× SLOWER — the broadcast-join subtrees offer no
            # exchange for AQE to reuse, so each branch re-ran the
            # heavy adj⋈und⋈und join before the caches filled.
            und = (
                und.join(new_m, "v", "left_anti")
                .join(removed, "v", "left_anti")
                .localCheckpoint(eager=False)
            )
            if _rows(und) == 0:
                break
        statuses.append(und.select("v").withColumn("status", F.lit("undecided")))
        if vertices is not None:
            # isolated vertices never appear as an edge endpoint, so the
            # round loop cannot see them; they have no neighbors and are
            # in every MIS by definition
            iso = (
                vertices.select(F.col(vertex_col).alias("v"))
                .distinct()
                .join(adj.select(F.col("a").alias("v")), "v", "left_anti")
            )
            statuses.append(iso.withColumn("status", F.lit("in")))
        result = statuses[0]
        for s in statuses[1:]:
            result = result.unionByName(s)
        # one eager job materializes the result and detaches it from
        # the pinned caches before they are released
        return result.localCheckpoint(eager=True)


def greedy_coloring(
    edges: DataFrame,
    *,
    colors: int = 2,
    rounds: int = 2,
    seed: str = "color",
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Distributed GRAPH COLORING by iterated Luby MIS — the classic
    reduction (Luby 1986): color class c is a maximal-ish independent
    set of the RESIDUAL graph (vertices not yet colored), so adjacent
    vertices never share a color by construction; after ``colors``
    classes the still-uncolored residual reports color −1 honestly
    (fixed budgets keep the oracle an unrollable CTE chain, the g27
    discipline).  Coloring is the scheduling/conflict-partitioning
    primitive: each color class can be processed with no intra-class
    conflicts (chromatic scheduling, parallel Gauss-Seidel, lock-free
    updates).

    Each class runs :func:`luby_mis` with a per-color seed
    (``f"{seed}{c}"`` — fresh content-addressed priorities per class)
    and the CURRENT residual as the explicit vertex universe, so a
    vertex whose neighbors are all already colored is isolated in the
    residual and joins the class immediately.  Scale shape: colors ×
    rounds edge⋈undecided joins, two semi-joins per class to restrict
    the edge set, lineage cut per class; no collects, no driver state
    beyond the loop counters."""
    if colors < 1:
        raise ValueError("colors must be >= 1")
    with _pinned() as pin:
        # build the SYMMETRIC self-loop-free adjacency once — every color
        # class restricts it with two semi-joins (symmetry is preserved by
        # restricting both endpoints to the same vertex set), instead of
        # paying a fresh union+distinct symmetrization per class
        adj = pin(_symmetric(edges, src_col, dst_col).distinct())
        remaining = pin(adj.select(F.col("a").alias("v")).distinct())
        out: DataFrame | None = None
        for c in range(colors):
            radj = (
                adj
                if c == 0
                # color 0's residual is the whole graph — the
                # restriction would be a no-op, skip its two joins.
                # Eager checkpoint: luby consumes the residual
                # adjacency 2×rounds times — cut it once instead of
                # re-running the semi-joins per round (eager, so no
                # unmaterialized mark is left for luby's jobs to race
                # on at low core counts)
                else adj.join(
                    remaining.select(F.col("v").alias("a")), "a", "left_semi"
                )
                .join(remaining.select(F.col("v").alias("b")), "b", "left_semi")
                .localCheckpoint(eager=True)
            )
            mis = luby_mis(
                adj,  # ignored when adjacency= is given
                vertices=remaining,
                rounds=rounds,
                seed=f"{seed}{c}",
                src_col="src",
                dst_col="dst",
                adjacency=radj,
            )
            # luby_mis returns an eagerly-checkpointed frame, so the
            # filter below is cheap lineage — no extra checkpoint job
            colored = mis.filter(F.col("status") == "in").select("v")
            frame = colored.withColumn("color", F.lit(c))
            out = frame if out is None else out.unionByName(frame)
            # lazy checkpoint: the count is its one FULL materialization
            # (isEmpty's take(1) computed a partition subset and paid a
            # second checkpoint-completion job), and later references
            # reuse the persisted blocks
            remaining = remaining.join(colored, "v", "left_anti").localCheckpoint(
                eager=False
            )
            if _rows(remaining) == 0:
                break
        out = (
            out.unionByName(remaining.withColumn("color", F.lit(-1)))
            if out is not None
            else remaining.withColumn("color", F.lit(-1))
        )
        return out.localCheckpoint(eager=True)


def random_walks(
    edges: DataFrame,
    sources: list[int],
    *,
    steps: int = 4,
    seed: str = "walk0",
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
) -> DataFrame:
    """Fixed-length random-WALK generation with CONTENT-ADDRESSED step
    choices → (walk_id, step, v): the training-data primitive behind
    DeepWalk/node2vec embeddings, which classically needs per-step
    RNG — here step s at vertex v moves to the out-neighbor u
    minimizing md5(seed ‖ s ‖ v ‖ u), which is (a) uniform-ish over
    neighbors like a random draw, (b) independent across (step,
    vertex) pairs so revisits take fresh choices, and (c) REPLAYABLE:
    the same string arithmetic ranks neighbors in SQL, so the exact
    walks have a full value oracle (the t36/q80 discipline again).
    Dead ends (no out-neighbor) terminate the walk early.

    Scale shape: one batch of walks advances with ONE edge-relation
    join per step (all walks share it), a map-combinable min_by per
    walk — no collects, no driver state beyond the loop counter.
    With |S| walk seeds the state is O(|S|) rows per step."""
    if not sources:
        raise ValueError("sources must be non-empty")
    if len(set(sources)) != len(sources):
        raise ValueError("sources must be distinct")
    if steps < 1:
        raise ValueError("steps must be >= 1")
    spark = edges.sparkSession
    with _pinned() as pin:
        e = pin(
            edges.filter(F.col(src_col) != F.col(dst_col))
            .select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
            .distinct()
        )
        cur = spark.createDataFrame(
            [(int(s), int(s)) for s in sources], "walk_id long, v long"
        )
        out = cur.withColumn("step", F.lit(0))
        for s in range(1, steps + 1):
            h = F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "\x1f",
                            F.lit(seed),
                            F.lit(str(s)),
                            F.col("v").cast("string"),
                            F.col("__d").cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            nxt = (
                cur.join(e, cur["v"] == e["__s"])
                .withColumn("__h", h)
                .groupBy("walk_id")
                .agg(F.min_by(F.col("__d"), F.struct("__h", "__d")).alias("v"))
            )
            cur = nxt.localCheckpoint(eager=False)
            out = out.unionByName(cur.withColumn("step", F.lit(s)))
        return out.select("walk_id", "step", "v").localCheckpoint(eager=True)


def neighborhood_function(
    edges: DataFrame,
    *,
    k: int = 2,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    lg_config_k: int = 12,
) -> DataFrame:
    """HyperBall (Boldi-Rosa-Vigna): per-vertex estimates of the
    k-hop OUT-ball size |{u : dist(v→u) ≤ k}| via mergeable HLL
    sketches → (v, ball_exact, within_tolerance).  The raw HLL
    estimate is engine-specific (Spark's datasketches registers), so
    it is folded into the cross-engine-stable ``within_tolerance``
    flag rather than emitted as a value column.  The
    neighborhood function is the primitive behind effective-diameter
    and centrality estimates at web scale, where exact per-vertex
    reachability (Σ ball sizes ~ n·avg_ball rows) is the thing you
    cannot afford — but a k-round propagation of O(kB) sketches is
    linear in edges per round:

        sketch₀(v) = {v};  sketchᵢ(v) = sketchᵢ₋₁(v) ∪ ⋃_{v→u} sketchᵢ₋₁(u)

    Each round is ONE edge join + one map-combinable hll_union_agg —
    the sketches merge like any other partial aggregate, which is the
    entire point (the q63/q80 mergeable-rollup story applied to an
    iterative graph algorithm).  The declared entry also computes the
    EXACT ball sizes (affordable at fixture scale) so the driver
    verifies estimate quality, not just shape: within_tolerance flags
    |est − exact| ≤ 8% · exact (generous vs the ~1.04/√2^lg_config_k
    standard error so the flag is stable across engines)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    with _pinned() as pin:
        e = pin(
            edges.filter(F.col(src_col) != F.col(dst_col))
            .select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
            .distinct()
        )
        verts = _endpoints(e, "__s", "__d").distinct()
        sk = verts.groupBy("v").agg(
            F.hll_sketch_agg("v", F.lit(lg_config_k)).alias("__sk")
        )
        reach = verts.select(F.col("v"), F.col("v").alias("u"))
        for _ in range(k):
            nb = (
                e.join(sk.withColumnRenamed("v", "__d"), "__d")
                .groupBy(F.col("__s").alias("v"))
                .agg(F.hll_union_agg("__sk").alias("__nbsk"))
            )
            sk = (
                sk.join(nb, "v", "left")
                .select(
                    "v",
                    F.when(
                        F.col("__nbsk").isNull(), F.col("__sk")
                    ).otherwise(
                        F.hll_union(F.col("__sk"), F.col("__nbsk"))
                    ).alias("__sk"),
                )
                .localCheckpoint(eager=False)
            )
            # exact twin: expand the reachable set one hop
            reach = (
                reach.unionAll(
                    reach.join(
                        e.withColumnRenamed("__s", "u"), "u"
                    ).select("v", F.col("__d").alias("u"))
                )
                .distinct()
                .localCheckpoint(eager=False)
            )
        exact = reach.groupBy("v").agg(
            F.count(F.lit(1)).alias("ball_exact")
        )
        est = sk.select(
            "v", F.hll_sketch_estimate("__sk").alias("__est")
        )
        return exact.join(est, "v").select(
            "v",
            F.col("ball_exact").cast("long").alias("ball_exact"),
            (
                F.abs(F.col("__est") - F.col("ball_exact"))
                <= F.col("ball_exact") * F.lit(0.08)
            ).alias("within_tolerance"),
        )


def minimum_spanning_forest(
    edges: DataFrame,
    *,
    rounds: int = 3,
    seed: str = "msf0",
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    weight_col: str | None = None,
    cc_max_iters: int = 48,
) -> DataFrame:
    """Borůvka MINIMUM SPANNING FOREST, fixed-round → (a, b[, weight],
    round_added): per round every component picks its minimum-weight
    OUTGOING edge, the picked edges join the forest, and components
    merge — THE distributed MST algorithm (each round at least halves
    the component count, so a full MST needs ⌈log₂ V⌉ rounds; a fixed
    budget keeps the oracle an unrollable chain and reports the honest
    partial forest, the g27/g30 discipline).  MSF/MST is the
    clustering/network-design primitive (single-linkage clustering IS
    the MST — pass the pair distances as ``weight_col``).

    Two weight modes, one total order:

    * ``weight_col=None`` (clustering-primitive mode): weights are
      md5(seed ‖ a ‖ b) ‖ zero-padded a ‖ b over the canonical a<b
      pair — content-addressed pseudo-weights.
    * ``weight_col='w'`` (real-weight mode): the column must be a
      NON-NEGATIVE INTEGER weight (quantize real distances to fixed
      micro-units upstream — the integer-rational house discipline);
      parallel (a, b) edges collapse to their MIN weight, and the sort
      key is zero-padded-decimal(weight) ‖ the same md5 ‖ id suffix,
      so equal weights tie-break DETERMINISTICALLY.

    Either way the total order is provably UNIQUE (the 20-digit pads
    cover the full int64 range, so the id suffix is injective and
    breaks even an md5 collision): the per-component argmin is
    deterministic, the picked set is provably cycle-free (the classic
    unique-weights argument), and the SAME string arithmetic replays
    in SQL.

    Scale shape per round: one edge ⋈ labels ⋈ labels join, a
    two-sided per-component map-combinable MIN, a distinct over the
    picked edges, and a min-label CC over the forest-so-far (≤ V−1
    edges — NOT the input graph); no collects beyond CC's bounded
    fast-path probe, lineage cut per round."""
    from duckdb_graphar_spark.operators.dedup import connected_components

    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if weight_col is None:
        e = _undirected(edges, src_col, dst_col)
    else:
        # the zero-padded-decimal sort key is only an order embedding
        # for NON-NEGATIVE INTEGERS (-9 would sort after -5; floats
        # would silently truncate) — so enforce the contract instead
        # of documenting it: integral type checked driver-side (free),
        # negativity checked in-plan via raise_error (no extra job;
        # fails the first task that sees a bad row)
        wfield = {f.name: f.dataType for f in edges.schema.fields}.get(weight_col)
        if wfield is None:
            raise ValueError(f"weight_col {weight_col!r} not in edges schema")
        if not isinstance(wfield, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            raise TypeError(
                f"weight_col {weight_col!r} must be an integral type "
                f"(quantize real distances to micro-units upstream), got "
                f"{wfield.simpleString()}"
            )
        guarded = (
            F.when(
                F.col(weight_col) < 0,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "minimum_spanning_forest: negative weight in "
                            f"{weight_col!r}: "
                        ),
                        F.col(weight_col).cast("string"),
                    )
                ),
            )
            .otherwise(F.col(weight_col))
            .cast("long")
        )
        # multigraph: parallel pairs keep their cheapest edge
        # (map-combinable MIN — never an array of parallel edges)
        e = (
            _undirected(edges, src_col, dst_col, guarded.alias("__wv"))
            .groupBy("a", "b")
            .agg(F.min("__wv").alias("__wv"))
        )
    tie = F.concat(
        F.md5(
            F.concat_ws(
                "\x1f",
                F.lit(seed),
                F.col("a").cast("string"),
                F.col("b").cast("string"),
            )
        ),
        F.lpad(F.col("a").cast("string"), 20, "0"),
        F.lpad(F.col("b").cast("string"), 20, "0"),
    )
    w = (
        tie
        if weight_col is None
        else F.concat(F.lpad(F.col("__wv").cast("string"), 20, "0"), tie)
    )
    with _pinned() as pin:
        e = pin(e.withColumn("__w", w))
        verts = pin(_endpoints(e).distinct())
        lbl = verts.select("v", F.col("v").alias("label"))
        forest: DataFrame | None = None
        for r in range(rounds):
            cand = (
                e.join(
                    lbl.select(F.col("v").alias("a"), F.col("label").alias("__la")),
                    "a",
                )
                .join(
                    lbl.select(F.col("v").alias("b"), F.col("label").alias("__lb")),
                    "b",
                )
                .filter(F.col("__la") != F.col("__lb"))
            )
            side_cols = ["__w", "a", "b", "__la", "__lb"] + (
                ["__wv"] if weight_col is not None else []
            )
            two_sided = cand.select(
                F.col("__la").alias("__comp"), *side_cols
            ).unionAll(
                cand.select(F.col("__lb").alias("__comp"), *side_cols)
            )
            pick_fields = ["a", "b", "__la", "__lb"] + (
                ["__wv"] if weight_col is not None else []
            )
            picked = (
                two_sided.groupBy("__comp")
                .agg(
                    F.min_by(
                        F.struct(*pick_fields), F.col("__w")
                    ).alias("__e")
                )
                .select(
                    *[F.col(f"__e.{f}").alias(f) for f in pick_fields]
                )
                .distinct()
                .withColumn("round_added", F.lit(r))
                # `picked` feeds three consumers (forest output, the CC
                # pick graph, the probe); the count below is its own
                # FULL materialization (so the lazy mark is safe under
                # concurrent AQE stage jobs — the scc trim-loop rule)
                # and doubles as the emptiness probe, fusing r12's
                # eager-checkpoint job + isEmpty job into one
                .localCheckpoint(eager=False)
            )
            if _rows(picked) == 0:
                break
            out_cols = (
                ["a", "b", "round_added"]
                if weight_col is None
                else ["a", "b", F.col("__wv").alias("weight"), "round_added"]
            )
            forest = (
                picked.select(*out_cols)
                if forest is None
                else forest.unionByName(picked.select(*out_cols))
            )
            # merge at the COMPONENT level, not over the accumulated
            # forest: the round's pick graph has one node per current
            # component and only this round's edges, so its size (and
            # the min-label propagation distance) shrinks geometrically
            # — CC over the growing tree-shaped forest instead would
            # face a diameter that GROWS every round (a 150k-vertex
            # spanning tree blew past even pointer-doubling's budget;
            # caught by CC's exact-or-raise, not silently wrong).
            # After round 0 the component graph usually fits CC's
            # driver union-find fast path outright.
            comp_pairs = picked.select(
                F.col("__la").alias("id_a"), F.col("__lb").alias("id_b")
            )
            comp_nodes = lbl.select(F.col("label").alias("v")).distinct()
            ccc = connected_components(
                comp_pairs, comp_nodes, max_iters=cc_max_iters
            ).select(F.col("v").alias("label"), F.col("label").alias("__nl"))
            lbl = (
                lbl.join(ccc, "label")
                .select("v", F.col("__nl").alias("label"))
                # eager: the next round's candidate join consumes lbl
                # from two subtrees (same hazard as `picked` above)
                .localCheckpoint(eager=True)
            )
        if forest is None:
            # Empty forest: derive a/b types from the canonicalized
            # edge frame so the schema matches the non-empty path for
            # any src/dst column type (int32 ids, string ids, ...).
            spark = edges.sparkSession
            fields = [e.schema["a"], e.schema["b"]]
            if weight_col is not None:
                fields.append(T.StructField("weight", T.LongType(), True))
            fields.append(T.StructField("round_added", T.IntegerType(), False))
            return spark.createDataFrame([], T.StructType(fields))
        return forest.localCheckpoint(eager=True)
