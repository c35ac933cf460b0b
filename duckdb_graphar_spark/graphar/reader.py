"""GraphAr read planning, and vertex/edge scans as Spark DataFrames.

Every GraphAr read decision is made here, once.  The planners
(`_plan_vertices`, `_plan_edges`, `_plan_offsets`) turn (graph, vertex
type or edge triple, point ids) into a list of `_ChunkPartition`s: per
chunk index, the aligned chunk file of every column source plus the row
slice a point lookup keeps.  The reference binds one scan machinery the
same way for its table functions and its attached tables
(`include/functions/table/read_base.hpp:248-467`).  The plan decides:

- **Addressing.** Vertex chunk `i` of a property group is
  `{group dir}chunk{i}`; it holds vertices `[i * chunk_size, ...)`
  (`include/utils/func.hpp:68-72`).  Vertex and offset chunks are counted
  from the vertex count, not listed.  A full edge scan lists the parts and
  chunks of its adjacency layout.
- **Layout.** A point id on the destination picks the `ordered_by_dest`
  (CSC) layout, one on the source the CSR layout (`read_edges.cpp:85-91`).
  A point id on the other side stays a row filter, never dropped.
- **Seek.** An edge point lookup reads one offset chunk (cached) for the
  part-relative row range `[offset[vid], offset[vid+1])` and keeps only
  the adjacency chunks covering it (`read_edges.cpp:114-153`).
- **Range checks.** An out-of-range point id raises `ValueError`, where
  the reference raises a BinderException (`read_vertices.cpp:101-104`).

Two surfaces consume the plan; only what differs by design stays apart:

- `read_vertices` / `read_edges` (and `operators.graph.
  degrees_from_offsets`) hand each source's plan files to Spark's
  vectorized Parquet reader and join the property groups on the computed
  index.  Only groups holding requested columns are read at all.
- `format("graphar")`, which backs the `attach` views (`datasource.py`),
  returns the plan as its input partitions and zips each partition's group
  chunks through Arrow, with no shuffle.

Reader notes (Spark-first, 100 TB-aware):

- **Index reconstruction.** GraphAr stores no row ids; a row's index is
  `chunk_no * chunk_size + position_in_chunk`.  It is recovered
  distributedly from the Parquet reader's hidden `_metadata.file_path` +
  `_metadata.row_index` columns — never `monotonically_increasing_id()`,
  so the result is deterministic under any task scheduling / file-split
  combination.
- **Relation reuse.** Handing a file list to `spark.read.parquet` builds
  a file index: above `spark.sql.sources.parallelPartitionDiscovery.
  threshold` (32) paths that is a file-listing Spark job, and below it a
  round of driver-side status calls.  The reference opens the chunk
  files it needs in-process on every call; here that would put a
  listing job in front of every full-edge traversal.  So each chunk-file
  scan (the relation plus its `__chunk`/`__row` address columns) is built
  once and kept in `_SCANS` (LRU, 16 entries), and reused while the
  session, the ordered file list, the schema and every file's
  `(mtime_ns, size)` stat token all match.
  Freshness rule: the tokens are taken BEFORE the relation is built and
  re-checked on every reuse, so a rewritten chunk file (new size or
  mtime), an added or removed chunk (a different file list) or a file
  the filesystem cannot stat (token None: never cached) builds a new
  relation.  A rewrite that keeps a file's size and lands within the
  filesystem's mtime granularity of the previous write is not seen, the
  same residual window as `GraphInfo.load`'s cache.  Reuse means two
  reader calls share the relation's attribute ids, so `read_vertices` /
  `read_edges` end with an aliasing projection (`_fresh_ids`): each call
  returns fresh ids, and frames from separate calls can be joined by
  column reference (`a[dst] == b[src]`) without ambiguity.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.datasource import InputPartition

from duckdb_graphar_spark.graphar.metadata import (
    DST_INDEX_COL,
    GraphInfo,
    OFFSET_COL,
    SRC_INDEX_COL,
    VERTEX_INDEX_COL,
    EdgeInfo,
    Property,
    StatCache,
    arrow_type_for,
    chunk_index_of,
    list_chunks,
    list_parts,
    spark_url,
    stat_token,
)

from pyspark.sql import types as T

_CHUNK_NO = "chunk([0-9]+)$"
_PART_NO = "part([0-9]+)/[^/]*$"

_ADJ_FIELDS = [Property(SRC_INDEX_COL, "int64"), Property(DST_INDEX_COL, "int64")]
_OFFSET_FIELDS = [Property(OFFSET_COL, "int64")]


@dataclass
class _ChunkPartition(InputPartition):
    """One chunk index of a plan.

    `groups` = [(file_path, file_type, [Property, ...]), ...]: the aligned
    chunk file of every column source; all hold the same rows in the same
    order (GraphAr invariant).  `base` is the index of the chunk's first
    row: the vertex index, or an edge's row within its part.  `lo`/`hi`
    slice the chunk's rows (`hi` None: to the end of the file).  `part` is
    the aligned vertex chunk the rows belong to."""

    groups: list
    base: int
    lo: int = 0
    hi: int | None = None
    part: int | None = None


def _row_bounds(parts: list[_ChunkPartition]) -> tuple[int, int]:
    """The [first, last) row indexes a sliced plan covers."""
    return parts[0].base + parts[0].lo, parts[-1].base + parts[-1].hi


def _plan_chunks(
    n: int, chunk_size: int, sources: list[tuple], vid: int | None
) -> list[_ChunkPartition]:
    """Plan a vertex-chunked file set of `n` vertices: chunk `i` of every
    `(dir, file_type, fields)` source is `{dir}chunk{i}`.  `vid` keeps the
    chunk covering it, sliced to its row."""
    if vid is None:
        spans = [(i, 0, min(chunk_size, n - i * chunk_size)) for i in range(-(-n // chunk_size))]
    elif 0 <= vid < n:
        spans = [(vid // chunk_size, vid % chunk_size, vid % chunk_size + 1)]
    else:
        raise ValueError(f"vertex id {vid} out of range [0, {n})")
    return [
        _ChunkPartition(
            [(os.path.join(d, f"chunk{i}"), ft, fields) for d, ft, fields in sources],
            base=i * chunk_size, lo=lo, hi=hi, part=i,
        )
        for i, lo, hi in spans
    ]


def _plan_vertices(
    g: GraphInfo, vtype: str, groups: list, vid: int | None = None
) -> list[_ChunkPartition]:
    """One partition per vertex chunk over `groups`; a type without
    property groups plans index-only partitions."""
    vi = g.vertices[vtype]
    sources = [(g.vertex_dir(vi, pg), pg.file_type, pg.properties) for pg in groups]
    return _plan_chunks(g.vertex_count(vtype), vi.chunk_size, sources, vid)


def _plan_offsets(
    g: GraphInfo, ei: EdgeInfo, aligned_by: str, vid: int | None = None
) -> list[_ChunkPartition]:
    """One partition per offset chunk: chunk `i` holds the part-relative
    CSR/CSC offsets of aligned vertex chunk `i` (one more row than it has
    vertices)."""
    chunk_size = ei.src_chunk_size if aligned_by == "src" else ei.dst_chunk_size
    offsets = os.path.join(g.adj_dir(ei, aligned_by), "offset")
    sources = [(offsets, ei.adj_list(aligned_by).file_type, _OFFSET_FIELDS)]
    return _plan_chunks(g.edge_aligned_vertex_count(ei, aligned_by), chunk_size, sources, vid)


def _edge_layout(ei: EdgeInfo, src_vid: int | None = None, dst_vid: int | None = None) -> str:
    """The adjacency layout an edge scan reads.  Only the point id on its
    side (if any) prunes chunks; the plan consumers filter on the other."""
    if dst_vid is not None and ei.has_layout("dst"):
        return "dst"
    if src_vid is not None and ei.has_layout("src"):
        return "src"
    return "src" if ei.has_layout("src") else "dst"


# offset chunk path -> its decoded int64 offsets (one vertex chunk each)
_OFFSET_CACHE = StatCache(16)


def _read_offsets(path: str, file_type: str):
    tokens = [(path, stat_token(path))]
    return _read_chunk(path, file_type, _OFFSET_FIELDS).column(OFFSET_COL).to_numpy(), tokens


def _plan_edges(
    g: GraphInfo,
    ei: EdgeInfo,
    groups: list,
    *,
    src_vid: int | None = None,
    dst_vid: int | None = None,
) -> tuple[str, list[_ChunkPartition]]:
    """(layout, partitions) of an edge scan over the adjacency list plus
    `groups`.  A point id on the layout's side seeks its offset chunk
    (`read_edges.cpp:121-151`; the decoded offsets are cached per file,
    stat-validated) and plans the adjacency chunks covering its row range,
    each sliced to it: none for a vertex without edges.  Otherwise every
    listed chunk of every part."""
    aligned_by = _edge_layout(ei, src_vid, dst_vid)
    point = src_vid if aligned_by == "src" else dst_vid
    layout = g.adj_dir(ei, aligned_by)
    adj_root = os.path.join(layout, "adj_list")
    sources = [(adj_root, ei.adj_list(aligned_by).file_type, _ADJ_FIELDS)] + [
        (os.path.join(layout, pg.prefix), pg.file_type, pg.properties) for pg in groups
    ]
    cs = ei.chunk_size

    def chunk(part: int, c: int, lo: int = 0, hi: int | None = None) -> _ChunkPartition:
        files = [
            (os.path.join(d, f"part{part}", f"chunk{c}"), ft, fields) for d, ft, fields in sources
        ]
        return _ChunkPartition(files, base=c * cs, lo=lo, hi=hi, part=part)

    if point is None:
        return aligned_by, [
            chunk(p, chunk_index_of(f))
            for p in list_parts(adj_root)
            for f in list_chunks(os.path.join(adj_root, f"part{p}"))
        ]
    [off] = _plan_offsets(g, ei, aligned_by, point)
    [(path, file_type, _)] = off.groups
    offs = _OFFSET_CACHE.get(path, lambda: _read_offsets(path, file_type))
    lo, hi = int(offs[off.lo]), int(offs[off.hi])
    if lo >= hi:
        return aligned_by, []
    return aligned_by, [
        chunk(off.part, c, max(lo - c * cs, 0), min(hi - c * cs, cs))
        for c in range(lo // cs, (hi - 1) // cs + 1)
    ]


def _as_graph(graph: GraphInfo | str) -> GraphInfo:
    return graph if isinstance(graph, GraphInfo) else GraphInfo.load(graph)


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _row_index(chunk_size: int) -> str:
    """SQL for a row's index across its chunk sequence: the vertex index,
    or an edge's row within its part.  Reader calls build their frames
    from SQL strings: each Column object, and each list element handed
    to the JVM, is a py4j round trip; a reused full-edge build made ~210
    of them with Column expressions and 8 with strings."""
    return f"__chunk * {int(chunk_size)} + __row"


def _path_no(regex: str) -> str:
    """SQL for the number `regex` captures from a row's chunk file path."""
    return f"CAST(regexp_extract(_metadata.file_path, '{regex}', 1) AS BIGINT)"


def _fresh_ids(df: DataFrame, cols: list[str]) -> DataFrame:
    """Project `cols` under new attribute ids: frames from separate reader
    calls may share one reused relation (module notes: relation reuse)."""
    return df.selectExpr(*[f"{_q(c)} AS {_q(c)}" for c in cols])


def _read_chunk(path: str, file_type: str, fields: list[Property]):
    """Read one chunk file through Arrow — parity with the reference's
    `fs->ReadFileToTable(path, file_type)`
    (`src/functions/table/edges_vertex.cpp:162-165`).  Non-parquet files
    are cast to the declared schema."""
    import pyarrow as pa

    if file_type == "parquet":
        return pq.read_table(path, columns=[p.name for p in fields])
    target = pa.schema([(p.name, arrow_type_for(p.data_type)) for p in fields])
    if file_type == "orc":
        from pyarrow import orc

        tbl = orc.read_table(path)
    elif file_type == "csv":
        from pyarrow import csv as pacsv

        tbl = pacsv.read_csv(
            path,
            convert_options=pacsv.ConvertOptions(
                column_types={p.name: arrow_type_for(p.data_type) for p in fields}
            ),
        )
    elif file_type == "json":
        from pyarrow import json as pajson

        tbl = pajson.read_json(path)
    else:
        raise NotImplementedError(f"chunk file_type {file_type!r}")
    return tbl.select([p.name for p in fields]).cast(target)


# (session, file urls, fields, with_part) -> the chunk-file scan built
# over those files.  Each entry pins ~0.15 MB of live JVM heap (60
# one-file scans measured +9.6 MB), so the bound is small: full scans,
# reused by every traversal, stay resident under LRU, while point
# lookups spread over many chunks churn through
_SCANS = StatCache(16)


def _parquet_scan(
    spark, files: list[str], fields: list[Property], with_part: bool
) -> DataFrame:
    """`_chunked_df` for Parquet chunk files, reused while the files' stat
    tokens hold (module notes: relation reuse)."""
    urls = tuple(spark_url(f) for f in files)

    def build():
        tokens = [(f, stat_token(f)) for f in files]
        # schema comes from the GraphAr metadata, not footer inference:
        # .schema(...) skips the planning-time footer read; parquet
        # columns resolve by name, and the hidden _metadata struct is
        # still available under an explicit schema
        sch = T.StructType([T.StructField(p.name, p.spark_type, True) for p in fields])
        cols = [
            *[_q(p.name) for p in fields],
            f"{_path_no(_CHUNK_NO)} AS __chunk",
            "_metadata.row_index AS __row",
        ]
        if with_part:
            cols.append(f"{_path_no(_PART_NO)} AS __part")
        return spark.read.schema(sch).parquet(*urls).selectExpr(*cols), tokens

    key = (spark, urls, tuple((p.name, p.data_type) for p in fields), with_part)
    return _SCANS.get(key, build)


def _chunked_df(
    spark, files: list[str], file_type: str, fields: list[Property], *, with_part: bool = False
) -> DataFrame:
    """Chunk files → DataFrame(props..., __chunk long, __row long).

    Parquet goes through Spark's vectorized reader with the hidden
    `_metadata` columns providing the deterministic (chunk, row) address.
    ORC/CSV/JSON file sources don't expose `_metadata.row_index`, so those
    formats distribute the *file list* and read whole chunk files through
    Arrow inside `mapInPandas` — the row position is the enumeration
    order within one file, deterministic under any task scheduling, and
    memory is bounded by chunk_size rows per file."""
    if file_type == "parquet":
        return _parquet_scan(spark, files, fields, with_part)

    import re as _re

    extra = ["__chunk", "__row"] + (["__part"] if with_part else [])
    out_schema = T.StructType(
        [T.StructField(p.name, p.spark_type, True) for p in fields]
        + [T.StructField(c, T.LongType(), False) for c in extra]
    )
    pairs = [(f, chunk_index_of(f)) for f in files]
    parallelism = spark.sparkContext.defaultParallelism
    paths = spark.createDataFrame(pairs, "__path string, __chunkno long").repartition(
        min(len(pairs), parallelism), "__path"
    )

    def read_files(batches):
        for b in batches:
            for path, chunkno in zip(b["__path"], b["__chunkno"]):
                out = _read_chunk(path, file_type, fields).to_pandas()
                out["__chunk"] = int(chunkno)
                out["__row"] = range(len(out))
                if with_part:
                    m = _re.search(_PART_NO, path)
                    out["__part"] = int(m.group(1)) if m else 0
                yield out

    return paths.mapInPandas(read_files, out_schema)


def read_vertices(
    spark,
    graph: GraphInfo | str,
    vtype: str,
    *,
    columns: list[str] | None = None,
    vid: int | None = None,
) -> DataFrame:
    """Scan one vertex type → DataFrame(`_graphArVertexIndex` long, props...).

    Parity: reference `read_vertices(path, type=...)`
    (`src/functions/table/read_vertices.cpp:35-89`, output schema
    `:65-68`).  `vid=` replicates the pushed-down equality filter on the
    implicit index (`:98-108`) as chunk-file pruning; `columns=`
    replicates projection pushdown (`:124-125`) as property-group pruning.
    """
    g = _as_graph(graph)
    vi = g.vertices[vtype]
    groups = vi.property_groups
    if columns is not None:
        wanted = set(columns) - {VERTEX_INDEX_COL}
        groups = [pg for pg in groups if any(p.name in wanted for p in pg.properties)]
        missing = wanted - {p.name for pg in groups for p in pg.properties}
        if missing:
            raise ValueError(f"unknown vertex properties: {sorted(missing)}")
    order = [VERTEX_INDEX_COL] + [
        p.name for pg in groups for p in pg.properties
        if columns is None or p.name in columns
    ]

    parts = _plan_vertices(g, vtype, groups, vid)
    if not parts:  # a type without vertices
        return spark.createDataFrame([], vi.schema()).select(*order)
    lo, hi = _row_bounds(parts)
    # no property group requested → the index rows are the plan's bounds
    result = None if groups else spark.range(lo, hi).toDF(VERTEX_INDEX_COL)
    for k, pg in enumerate(groups):
        pdf = _chunked_df(spark, [p.groups[k][0] for p in parts], pg.file_type, pg.properties)
        pdf = pdf.selectExpr(
            f"{_row_index(vi.chunk_size)} AS {VERTEX_INDEX_COL}",
            *[_q(p.name) for p in pg.properties],
        )
        if vid is not None:
            # an equality, not the plan's [lo, hi): the range filter measured
            # ~25 ms slower per lookup
            pdf = pdf.filter(f"{VERTEX_INDEX_COL} = {int(vid)}")
        result = pdf if result is None else result.join(pdf, VERTEX_INDEX_COL)
    return _fresh_ids(result, order)


def read_edges(
    spark,
    graph: GraphInfo | str,
    src: str,
    edge_type: str,
    dst: str,
    *,
    src_vid: int | None = None,
    dst_vid: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Scan one edge triple → DataFrame(`_graphArSrcIndex`,
    `_graphArDstIndex` long, props...).

    Parity: reference `read_edges(path, src=, type=, dst=)`
    (`src/functions/table/read_edges.cpp:34-110`).  A point filter on
    src/dst picks the CSR/CSC layout (`:85-91`) and prunes to the adj_list
    chunk files covering `[offset[vid], offset[vid+1])` (`:114-153`).
    """
    g = _as_graph(graph)
    ei = g.edges[(src, edge_type, dst)]
    groups = ei.property_groups
    if columns is not None:
        wanted = set(columns) - {SRC_INDEX_COL, DST_INDEX_COL}
        groups = [pg for pg in groups if any(p.name in wanted for p in pg.properties)]
    out_cols = [SRC_INDEX_COL, DST_INDEX_COL] + [
        p.name for pg in groups for p in pg.properties
        if columns is None or p.name in columns
    ]

    aligned_by, parts = _plan_edges(g, ei, groups, src_vid=src_vid, dst_vid=dst_vid)
    if not parts:  # a point lookup on a vertex without edges
        return spark.createDataFrame([], ei.schema()).select(*out_cols)
    seeked = (src_vid if aligned_by == "src" else dst_vid) is not None
    erow = _row_index(ei.chunk_size)  # an edge's row within its part

    def scan(k: int) -> DataFrame:
        _, file_type, fields = parts[0].groups[k]
        files = [p.groups[k][0] for p in parts]
        return _chunked_df(spark, files, file_type, fields, with_part=not seeked)

    # a property group joins the adjacency rows on (__part, __erow)
    join_cols = {"__erow": F.expr(erow)} if groups else {}
    df = scan(0)
    if seeked:
        lo, hi = _row_bounds(parts)
        df = df.filter(f"{erow} >= {lo} AND {erow} < {hi}")
        if groups:
            join_cols["__part"] = F.lit(parts[0].part)
    if groups:
        df = df.withColumns(join_cols)

    # the point id on the side the plan did not seek is a row filter
    if src_vid is not None and aligned_by != "src":
        df = df.filter(f"{SRC_INDEX_COL} = {int(src_vid)}")
    if dst_vid is not None and aligned_by != "dst":
        df = df.filter(f"{DST_INDEX_COL} = {int(dst_vid)}")

    for k, pg in enumerate(groups, 1):
        pdf = scan(k).withColumns(join_cols)
        pdf = pdf.select("__part", "__erow", *[p.name for p in pg.properties])
        df = df.join(pdf, ["__part", "__erow"])
    return _fresh_ids(df, out_cols)
