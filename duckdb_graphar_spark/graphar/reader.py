"""GraphAr vertex/edge scans as Spark DataFrames.

Replaces the reference's table functions `read_vertices` / `read_edges`
(`src/functions/table/read_vertices.cpp:35-140`,
`src/functions/table/read_edges.cpp:34-170`) with a metadata-driven file
listing feeding Spark's vectorized Parquet reader.

Design notes (Spark-first, 100 TB-aware):

- **Index reconstruction.** GraphAr stores no row ids; a row's vertex
  index is `chunk_no * chunk_size + position_in_chunk`
  (`include/utils/func.hpp:68-72`).  We recover it distributedly from the
  Parquet reader's hidden `_metadata.file_path` + `_metadata.row_index`
  columns — never `monotonically_increasing_id()`, so the result is
  deterministic under any task scheduling / file-split combination.
- **Property-group zip.** Each group is a separate chunked column file
  set; groups are re-joined on the computed index.  Only the groups
  containing requested columns are read at all (projection pushdown one
  step beyond the reference, which materializes selected columns but
  still opens every group reader — `read_base.hpp:309-311`).
- **CSR seek → file pruning.** A point lookup on the aligned index
  (`WHERE _graphArSrcIndex = k`) reads one offset chunk to get the row
  range, then lists only the adj_list chunk files covering that range —
  the Spark equivalent of the reference's offset-seek
  (`read_edges.cpp:114-153`).  At 100 TB this turns a full scan into
  O(range/chunk_size) file reads.
- **Layout selection.** Filtering on dst prefers the `ordered_by_dest`
  (CSC) layout, mirroring `read_edges.cpp:85-91`.
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

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, functions as F

from duckdb_graphar_spark.graphar.metadata import (
    DST_INDEX_COL,
    GraphInfo,
    OFFSET_COL,
    SRC_INDEX_COL,
    VERTEX_INDEX_COL,
    EdgeInfo,
    Property,
    StatCache,
    VertexInfo,
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


def _arrow_read_table(path: str, file_type: str, fields: list[Property]):
    """Read one non-parquet chunk file through Arrow with the declared
    schema — parity with the reference's `fs->ReadFileToTable(path,
    file_type)` (`src/functions/table/edges_vertex.cpp:162-165`)."""
    import pyarrow as pa

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
                out = _arrow_read_table(path, file_type, fields).to_pandas()
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
    n = g.vertex_count(vtype)
    if vid is not None and not (0 <= vid < n):
        # reference raises BinderException for out-of-range vid (read_vertices.cpp:101-104)
        raise ValueError(f"vertex id {vid} out of range [0, {n})")

    groups = vi.property_groups
    if columns is not None:
        wanted = set(columns) - {VERTEX_INDEX_COL}
        groups = [pg for pg in groups if any(p.name in wanted for p in pg.properties)]
        missing = wanted - {p.name for pg in groups for p in pg.properties}
        if missing:
            raise ValueError(f"unknown vertex properties: {sorted(missing)}")

    result: DataFrame | None = None
    for pg in groups:
        files = list_chunks(g.vertex_dir(vi, pg))
        if vid is not None:
            target = vid // vi.chunk_size
            files = [f for f in files if f.endswith(f"chunk{target}")]
        pdf = _chunked_df(spark, files, pg.file_type, pg.properties)
        pdf = pdf.selectExpr(
            f"{_row_index(vi.chunk_size)} AS {VERTEX_INDEX_COL}",
            *[_q(p.name) for p in pg.properties],
        )
        if vid is not None:
            pdf = pdf.filter(f"{VERTEX_INDEX_COL} = {int(vid)}")
        result = pdf if result is None else result.join(pdf, VERTEX_INDEX_COL)

    if result is None:
        # no property groups requested → index-only frame from metadata
        result = spark.range(n).select(F.col("id").alias(VERTEX_INDEX_COL))
        if vid is not None:
            result = result.filter(f"{VERTEX_INDEX_COL} = {int(vid)}")

    order = [VERTEX_INDEX_COL] + [
        p.name for pg in groups for p in pg.properties
        if columns is None or p.name in columns
    ]
    return _fresh_ids(result, order)


# offset chunk path -> its decoded int64 offsets (one vertex chunk each)
_OFFSET_CACHE = StatCache(16)


def _read_offsets(path: str, file_type: str):
    tokens = [(path, stat_token(path))]
    if file_type == "parquet":
        tbl = pq.read_table(path)
    else:
        tbl = _arrow_read_table(path, file_type, _OFFSET_FIELDS)
    return tbl.column(OFFSET_COL).to_numpy(), tokens


def _offset_range(g: GraphInfo, ei: EdgeInfo, aligned_by: str, vid: int) -> tuple[int, int, int]:
    """Read one offset chunk (driver-side, tiny) → (part, lo, hi) row range
    relative to the part start.  Mirrors `read_edges.cpp:121-151`.

    The decoded offsets array is cached per chunk file (stat-validated,
    like `GraphInfo.load`'s cache): repeated point lookups on the same
    graph re-seek without re-reading the offset file."""
    chunk_size = ei.src_chunk_size if aligned_by == "src" else ei.dst_chunk_size
    part = vid // chunk_size
    pos = vid % chunk_size
    path = g.offset_chunk_path(ei, aligned_by, part)
    ftype = ei.adj_list(aligned_by).file_type
    offs = _OFFSET_CACHE.get(path, lambda: _read_offsets(path, ftype))
    return part, int(offs[pos]), int(offs[pos + 1])


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

    # Chunk pruning can use ONE point predicate (the one whose layout
    # exists); any other point predicate given is applied below as a row
    # filter — never silently dropped.
    if dst_vid is not None and ei.has_layout("dst"):
        aligned_by = "dst"
        point = dst_vid
    elif src_vid is not None and ei.has_layout("src"):
        aligned_by = "src"
        point = src_vid
    else:
        aligned_by = "src" if ei.has_layout("src") else "dst"
        point = None

    layout_dir = g.adj_dir(ei, aligned_by)
    groups = ei.property_groups
    if columns is not None:
        wanted = set(columns) - {SRC_INDEX_COL, DST_INDEX_COL}
        groups = [pg for pg in groups if any(p.name in wanted for p in pg.properties)]
    erow = _row_index(ei.chunk_size)  # an edge's row within its part
    # a property group joins the adjacency rows on (__part, __erow)
    join_cols = {"__erow": F.expr(erow)} if groups else {}

    if point is not None:
        n = g.edge_aligned_vertex_count(ei, aligned_by)
        if not (0 <= point < n):
            raise ValueError(f"vertex id {point} out of range [0, {n})")
        part, lo, hi = _offset_range(g, ei, aligned_by, point)
        if lo >= hi:
            return spark.createDataFrame([], ei.schema())
        first, last = lo // ei.chunk_size, (hi - 1) // ei.chunk_size
        if groups:
            join_cols["__part"] = F.lit(part)

    def chunk_files(root: str) -> list[str]:
        if point is None:
            return [f for p in list_parts(root) for f in list_chunks(os.path.join(root, f"part{p}"))]
        return [
            f for f in list_chunks(os.path.join(root, f"part{part}"))
            if first <= int(f.rsplit("chunk", 1)[1]) <= last
        ]

    def scan(root: str, file_type: str, fields: list[Property]) -> DataFrame:
        return _chunked_df(
            spark, chunk_files(os.path.join(layout_dir, root)), file_type, fields,
            with_part=point is None,
        )

    df = scan("adj_list", ei.adj_list(aligned_by).file_type, _ADJ_FIELDS)
    if point is not None:
        df = df.filter(f"{erow} >= {lo} AND {erow} < {hi}")
    if groups:
        df = df.withColumns(join_cols)

    # residual point predicates (the side NOT used for chunk pruning)
    if src_vid is not None and not (point is not None and aligned_by == "src"):
        df = df.filter(f"{SRC_INDEX_COL} = {int(src_vid)}")
    if dst_vid is not None and not (point is not None and aligned_by == "dst"):
        df = df.filter(f"{DST_INDEX_COL} = {int(dst_vid)}")

    for pg in groups:
        pdf = scan(pg.prefix, pg.file_type, pg.properties).withColumns(join_cols)
        pdf = pdf.select("__part", "__erow", *[p.name for p in pg.properties])
        df = df.join(pdf, ["__part", "__erow"])

    prop_cols = [
        p.name for pg in groups for p in pg.properties
        if columns is None or p.name in columns
    ]
    out_cols = [SRC_INDEX_COL, DST_INDEX_COL] + prop_cols
    if columns is not None:
        out_cols = [c for c in out_cols if c in columns or c in (SRC_INDEX_COL, DST_INDEX_COL)]
    return _fresh_ids(df, out_cols)
