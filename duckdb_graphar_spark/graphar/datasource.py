"""`format("graphar")` — a Spark Python Data Source for GraphAr graphs.

The DataFrame-helper readers (`reader.py`) reconstruct each vertex row by
*joining* property groups on the computed index; this data source goes one
step further and is the idiomatic DSv2-style integration (SURVEY §7): one
input partition per chunk index reads the *aligned* chunk file of every
property group and zips them columnar-side through Arrow — property-group
reconstruction with **zero shuffle**, exactly how the reference zips its
per-group Arrow chunk readers (`include/functions/table/read_base.hpp:
269,309-311,408-449`).

Pushdown (reference B2/B3, `read_vertices.cpp:98-108`,
`read_edges.cpp:114-153`):

- `EqualTo` on `_graphArVertexIndex` → plan only the covering chunk
  partition, slice to the row.
- `EqualTo` on `_graphArSrcIndex` / `_graphArDstIndex` → pick the CSR
  (`ordered_by_source`) or CSC (`ordered_by_dest`) layout, read the
  offset chunk at planning time, emit only the partitions covering
  `[offset[vid], offset[vid+1])`.
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

from dataclasses import dataclass
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
    Property,
    list_chunks,
    list_parts,
)

import os


@dataclass
class _ChunkPartition(InputPartition):
    """One chunk index: the aligned chunk file of every column source.

    `groups` = [(file_path, file_type, [Property, ...]), ...]; all files
    hold the same rows in the same order (GraphAr invariant).  `base` is
    the first row's global index; `lo`/`hi` optionally slice a pushed
    point lookup to its exact row range (part-relative)."""

    groups: list
    base: int
    lo: int | None = None
    hi: int | None = None
    part: int | None = None  # edge partitions: aligned vertex chunk no


def _read_group(path: str, file_type: str, fields: list[Property]):
    import pyarrow.parquet as pq

    if file_type == "parquet":
        return pq.read_table(path, columns=[p.name for p in fields])
    from duckdb_graphar_spark.graphar.reader import _arrow_read_table

    return _arrow_read_table(path, file_type, fields)


def _read_partition(p: _ChunkPartition | None, index_cols: list[str]) -> Iterator:
    """Zip the aligned group chunks into Arrow batches with index columns.

    `p` is None when `partitions()` planned none (a point lookup on a
    vertex with no edges): PySpark then reads one `None` partition, which
    holds no rows."""
    import pyarrow as pa

    if p is None:
        return
    tables = [_read_group(path, ft, fields) for path, ft, fields in p.groups]
    n = tables[0].num_rows
    lo = p.lo if p.lo is not None else 0
    hi = p.hi if p.hi is not None else n
    if hi <= lo:
        return
    cols, names = [], []
    if index_cols == [VERTEX_INDEX_COL]:
        names.append(VERTEX_INDEX_COL)
        cols.append(pa.array(range(p.base + lo, p.base + hi), pa.int64()))
    for tbl in tables:
        sliced = tbl.slice(lo, hi - lo)
        for name in sliced.column_names:
            names.append(name)
            cols.append(sliced.column(name))
    out = pa.table(dict(zip(names, cols)))
    # src/dst live inside the adj group — already first by construction
    yield from out.to_batches()


class _VertexReader(DataSourceReader):
    def __init__(self, g: GraphInfo, vtype: str):
        self.g = g
        self.vi = g.vertices[vtype]
        self.n = g.vertex_count(vtype)
        self.vid: int | None = None

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and tuple(f.attribute) == (VERTEX_INDEX_COL,)
                and self.vid is None
            ):
                vid = int(f.value)
                if not (0 <= vid < self.n):
                    raise ValueError(f"vertex id {vid} out of range [0, {self.n})")
                self.vid = vid
            else:
                yield f

    def partitions(self) -> List[InputPartition]:
        vi, g = self.vi, self.g
        per_group = [
            (list_chunks(g.vertex_dir(vi, pg)), pg.file_type, pg.properties)
            for pg in vi.property_groups
        ]
        nchunks = max((len(files) for files, _, _ in per_group), default=0)
        out = []
        for i in range(nchunks):
            if self.vid is not None and i != self.vid // vi.chunk_size:
                continue
            groups = [(files[i], ft, props) for files, ft, props in per_group]
            lo = hi = None
            if self.vid is not None:
                lo = self.vid % vi.chunk_size
                hi = lo + 1
            out.append(_ChunkPartition(groups, base=i * vi.chunk_size, lo=lo, hi=hi))
        return out

    def read(self, partition: _ChunkPartition) -> Iterator:
        yield from _read_partition(partition, [VERTEX_INDEX_COL])


class _EdgeReader(DataSourceReader):
    def __init__(self, g: GraphInfo, src: str, edge: str, dst: str):
        self.g = g
        self.ei = g.edges[(src, edge, dst)]
        self.src_vid: int | None = None
        self.dst_vid: int | None = None

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        # Decide the layout HERE and consume only the one filter
        # partitions() will actually honor; everything else (including a
        # second point filter, or a filter whose layout is absent) is
        # yielded back so Spark evaluates it above the scan.  Consuming a
        # filter that the scan never applies would silently return extra
        # rows.
        src_f = dst_f = None
        residual: list[Filter] = []
        for f in filters:
            if isinstance(f, EqualTo) and tuple(f.attribute) == (SRC_INDEX_COL,) and src_f is None:
                src_f = f
            elif isinstance(f, EqualTo) and tuple(f.attribute) == (DST_INDEX_COL,) and dst_f is None:
                dst_f = f
            else:
                residual.append(f)
        if dst_f is not None and self.ei.has_layout("dst"):
            self.dst_vid = int(dst_f.value)
            if src_f is not None:
                residual.append(src_f)
        elif src_f is not None and self.ei.has_layout("src"):
            self.src_vid = int(src_f.value)
            if dst_f is not None:
                residual.append(dst_f)
        else:
            residual.extend(f for f in (src_f, dst_f) if f is not None)
        yield from residual

    def partitions(self) -> List[InputPartition]:
        from duckdb_graphar_spark.graphar.reader import _offset_range

        g, ei = self.g, self.ei
        if self.dst_vid is not None and ei.has_layout("dst"):
            aligned_by, point = "dst", self.dst_vid
        elif self.src_vid is not None and ei.has_layout("src"):
            aligned_by, point = "src", self.src_vid
        else:
            aligned_by = "src" if ei.has_layout("src") else "dst"
            point = None
        adj = ei.adj_list(aligned_by)
        adj_root = os.path.join(g.adj_dir(ei, aligned_by), "adj_list")
        adj_fields = [Property(SRC_INDEX_COL, "int64"), Property(DST_INDEX_COL, "int64")]

        def groups_for(part: int, chunk_file: str, chunk_no: int):
            gs = [(chunk_file, adj.file_type, adj_fields)]
            for pg in ei.property_groups:
                pdir = g.edge_prop_part_dir(ei, aligned_by, pg, part)
                gs.append(
                    (os.path.join(pdir, f"chunk{chunk_no}"), pg.file_type, pg.properties)
                )
            return gs

        out: list[InputPartition] = []
        if point is not None:
            n = g.edge_aligned_vertex_count(ei, aligned_by)
            if not (0 <= point < n):
                raise ValueError(f"vertex id {point} out of range [0, {n})")
            part, lo, hi = _offset_range(g, ei, aligned_by, point)
            if lo >= hi:
                return []
            first, last = lo // ei.chunk_size, (hi - 1) // ei.chunk_size
            for f in list_chunks(os.path.join(adj_root, f"part{part}")):
                c = int(f.rsplit("chunk", 1)[1])
                if not (first <= c <= last):
                    continue
                clo = max(lo - c * ei.chunk_size, 0)
                chi = min(hi - c * ei.chunk_size, ei.chunk_size)
                out.append(
                    _ChunkPartition(
                        groups_for(part, f, c),
                        base=c * ei.chunk_size,
                        lo=clo,
                        hi=chi,
                        part=part,
                    )
                )
            return out

        for part in list_parts(adj_root):
            for f in list_chunks(os.path.join(adj_root, f"part{part}")):
                c = int(f.rsplit("chunk", 1)[1])
                out.append(_ChunkPartition(groups_for(part, f, c), base=c * ei.chunk_size, part=part))
        return out

    def read(self, partition: _ChunkPartition) -> Iterator:
        yield from _read_partition(partition, [SRC_INDEX_COL, DST_INDEX_COL])


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
