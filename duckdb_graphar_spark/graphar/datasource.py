"""`format("graphar")` — a Spark Python Data Source for GraphAr graphs.

It backs the `attach` views.  Planning does not happen here:
`partitions()` returns the `_ChunkPartition` list of the shared planner
in `reader.py`, the same plan `read_vertices` / `read_edges` read (chunk
addressing, layout choice, offset seek, id range checks).  This module
adds the read.  Each input partition opens the aligned chunk file of every
property group and zips them column-wise through Arrow, so the groups are
reconstructed with **zero shuffle**, the way the reference zips its
per-group Arrow chunk readers (`include/functions/table/read_base.hpp:
269,309-311,408-449`).  The DataFrame readers join the groups instead.

Pushdown (reference B2/B3, `read_vertices.cpp:98-108`,
`read_edges.cpp:114-153`):

- `EqualTo` on `_graphArVertexIndex` → the plan keeps the covering chunk,
  sliced to the row.
- `EqualTo` on `_graphArSrcIndex` / `_graphArDstIndex` → the filter on
  the side the planner's layout rule picks is consumed; the plan seeks the
  offsets and keeps only the partitions covering `[offset[vid],
  offset[vid+1])`.
- every other filter is returned to Spark unhandled (evaluated above the
  scan — no single-filter/equality-only restriction like the reference's
  `read_base.hpp:284-296`).

Usage::

    from duckdb_graphar_spark.graphar.datasource import register
    register(spark)
    v = (spark.read.format("graphar")
         .option("path", "/data/Graph.yaml").option("type", "Person").load())
    e = (spark.read.format("graphar")
         .option("path", "/data/Graph.yaml")
         .option("src", "Person").option("edge", "knows").option("dst", "Person")
         .load())
"""

from __future__ import annotations

from typing import Iterable, Iterator, List

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
)
from pyspark.sql import types as T

from duckdb_graphar_spark.graphar.metadata import (
    DST_INDEX_COL,
    GraphInfo,
    SRC_INDEX_COL,
    VERTEX_INDEX_COL,
)
from duckdb_graphar_spark.graphar.reader import (
    _ChunkPartition,
    _edge_layout,
    _plan_edges,
    _plan_vertices,
    _read_chunk,
)

_POINT_SIDES = {(SRC_INDEX_COL,): "src", (DST_INDEX_COL,): "dst"}


def _read_partition(p: _ChunkPartition | None, with_index: bool) -> Iterator:
    """Zip the aligned group chunks into Arrow batches, the vertex index
    first when `with_index` (an edge's src/dst lead its adjacency group).

    `p` is None when `partitions()` planned none (a point lookup on a
    vertex with no edges): PySpark then reads one `None` partition, which
    holds no rows."""
    import pyarrow as pa

    if p is None:
        return
    tables = [_read_chunk(path, ft, fields) for path, ft, fields in p.groups]
    hi = tables[0].num_rows if p.hi is None else p.hi
    cols = {}
    if with_index:
        cols[VERTEX_INDEX_COL] = pa.array(range(p.base + p.lo, p.base + hi), pa.int64())
    for tbl in tables:
        sliced = tbl.slice(p.lo, hi - p.lo)
        cols.update(zip(sliced.column_names, sliced.columns))
    yield from pa.table(cols).to_batches()


class _VertexReader(DataSourceReader):
    def __init__(self, g: GraphInfo, vtype: str):
        self.g = g
        self.vtype = vtype
        self.vid: int | None = None

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and tuple(f.attribute) == (VERTEX_INDEX_COL,)
                and self.vid is None
            ):
                self.vid = int(f.value)
            else:
                yield f

    def partitions(self) -> List[InputPartition]:
        groups = self.g.vertices[self.vtype].property_groups
        return _plan_vertices(self.g, self.vtype, groups, self.vid)

    def read(self, partition: _ChunkPartition) -> Iterator:
        yield from _read_partition(partition, with_index=True)


class _EdgeReader(DataSourceReader):
    def __init__(self, g: GraphInfo, src: str, edge: str, dst: str):
        self.g = g
        self.ei = g.edges[(src, edge, dst)]
        self.point: dict[str, int] = {}  # the point id the plan seeks on

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        # Consume only the point filter the plan seeks on (the side
        # `_edge_layout` picks); everything else, including a second
        # point filter or one whose layout is absent, is yielded back so
        # Spark evaluates it above the scan.  Consuming a filter that the
        # scan never applies would silently return extra rows.
        points: dict[str, Filter] = {}
        for f in filters:
            side = _POINT_SIDES.get(tuple(f.attribute)) if isinstance(f, EqualTo) else None
            if side is None or side in points:
                yield f
            else:
                points[side] = f
        aligned_by = _edge_layout(self.ei, **{f"{s}_vid": f.value for s, f in points.items()})
        for side, f in points.items():
            if side == aligned_by:
                self.point = {f"{side}_vid": int(f.value)}
            else:
                yield f

    def partitions(self) -> List[InputPartition]:
        return _plan_edges(self.g, self.ei, self.ei.property_groups, **self.point)[1]

    def read(self, partition: _ChunkPartition) -> Iterator:
        yield from _read_partition(partition, with_index=False)


class GraphArDataSource(DataSource):
    """`spark.read.format("graphar")` — options: `path` (graph YAML) plus
    either `type` (vertex scan) or `src`/`edge`/`dst` (edge scan)."""

    @classmethod
    def name(cls) -> str:
        return "graphar"

    def _graph(self) -> GraphInfo:
        # `yaml` is preferred for SQL `CREATE TABLE ... USING graphar`:
        # Spark's catalog treats the reserved `path` option as a table
        # location and re-qualifies it on every read (mangling it to
        # cwd + 'file:/...'), while non-reserved option names pass
        # through verbatim.  `path` remains for programmatic
        # spark.read.format("graphar").option("path", ...) use.
        path = self.options.get("yaml") or self.options.get("path")
        if not path:
            raise ValueError("graphar: option 'yaml' (graph YAML path) is required")
        return GraphInfo.load(path)

    def schema(self) -> T.StructType:
        g = self._graph()
        if self.options.get("type"):
            return g.vertices[self.options["type"]].schema()
        return g.edges[
            (self.options["src"], self.options["edge"], self.options["dst"])
        ].schema()

    def reader(self, schema: T.StructType) -> DataSourceReader:
        g = self._graph()
        if self.options.get("type"):
            return _VertexReader(g, self.options["type"])
        return _EdgeReader(
            g, self.options["src"], self.options["edge"], self.options["dst"]
        )


def register(spark) -> None:
    """Register the `graphar` format on this session."""
    # pushFilters requires this runtime SQL conf; the session may not have
    # been built by our factory (session.py), so set it here.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(GraphArDataSource)
