"""Distributed driver of the GraphAr layout writer: DataFrame → `gar/v1`.

The reference has NO write path at all (every write throws,
`src/storage/graphar_catalog.cpp:61-81`, `graphar_transaction.cpp:28-34`);
this module exceeds parity with a Spark-first sink so a pipeline can
round-trip graph data at scale (SURVEY §2.A6: "Spark writer would be
`df.write.parquet` plus YAML emit").  The files themselves are written
by `writer.write_vertex_chunk` / `writer.write_edge_part`, the same two
functions the in-process `write_graph` calls; this module only decides
which task runs them on which rows.

Scale design (100 TB):

- **Vertices: one shuffle total.**  Rows are grouped by chunk id
  (``vid // chunk_size``) and each group — a complete chunk — is written
  by one task via ``applyInArrow``: every property group's chunk file
  comes out of the same Arrow batch, so adding property groups costs no
  extra shuffle or scan.
- **Edges: one shuffle per layout.**  Rows are grouped by part id
  (aligned-vertex chunk); one task writes the whole part.  Parts are the
  format's own parallelism unit — at 1000 executors, 1000 parts write
  concurrently.  Per-task memory is bounded by ``src_chunk_size ×
  max_degree`` rows; shrink the aligned chunk size for very hot graphs.
- **Empty parts still materialize**: one pad row per part is unioned
  in, because the layout requires offset/adjacency files for every
  vertex chunk.
- Malformed input (an id outside [0, vertex count), a vertex index that
  is not dense) fails the task that holds the rows: no extra job.
- Executors write directly to the (shared) filesystem; no driver-side
  data movement.  Only YAML metadata and count files are driver-written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F, types as T

from duckdb_graphar_spark.graphar.metadata import (
    DST_INDEX_COL,
    SRC_INDEX_COL,
    VERTEX_INDEX_COL,
    AdjList,
    EdgeInfo,
    VertexInfo,
    dump_graph,
    graphar_type_of,
)
from duckdb_graphar_spark.graphar.writer import (
    aligned_parts,
    finish_edges,
    finish_vertices,
    property_groups,
    write_edge_part,
    write_vertex_chunk,
)


def _columns(table: pa.Table, groups) -> pa.Table:
    """The property columns of a task's Arrow batch with one chunk and a
    nullable field each, so a chunk file depends neither on how Spark
    batched the rows nor on the frame's nullability."""
    return pa.table({p.name: table[p.name].combine_chunks() for pg in groups for p in pg.properties})


def with_dense_index(
    df: DataFrame, order_by: list[str], index_col: str = VERTEX_INDEX_COL
) -> DataFrame:
    """Attach a dense 0..n-1 int64 index ordered by ``order_by`` WITHOUT a
    single-partition global sort: range-repartition on the key, count
    rows per partition (tiny driver state: one long per partition), then
    add each partition's base offset to a partition-local running index.
    The classic zipWithIndex two-pass, Arrow-vectorized."""
    from pyspark.sql.functions import spark_partition_id

    rp = (
        df.repartitionByRange(*[F.col(c) for c in order_by])
        .sortWithinPartitions(*order_by)
        .persist()
    )
    sizes = {
        r["pid"]: r["n"]
        for r in rp.groupBy(spark_partition_id().alias("pid")).count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    bases = {}
    acc = 0
    for pid in sorted(sizes):
        bases[pid] = acc
        acc += sizes[pid]
    bases_bc = df.sparkSession.sparkContext.broadcast(bases)

    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(index_col, T.LongType(), False)])

    def assign(pdf_iter):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = bases_bc.value.get(pid, 0)
        seen = 0
        for pdf in pdf_iter:
            pdf = pdf.copy()
            pdf[index_col] = np.arange(base + seen, base + seen + len(pdf), dtype=np.int64)
            seen += len(pdf)
            yield pdf

    return rp.mapInPandas(assign, out_schema)


def write_vertices_dist(
    df: DataFrame,
    out_dir: str,
    vtype: str,
    *,
    index_col: str = VERTEX_INDEX_COL,
    chunk_size: int = 1024,
    property_groups: list[list[str]] | None = None,
    file_type: str = "parquet",
) -> str:
    """Write one vertex type distributedly; returns the vertex YAML name.

    ``df`` must carry a dense 0..n-1 ``index_col`` (use
    :func:`with_dense_index` to create one).  Property columns = all
    columns except the index."""
    return _write_vertices(df, out_dir, vtype, index_col, chunk_size, property_groups, file_type)[0]


def _write_vertices(df, out_dir, vtype, index_col, chunk_size, groups, file_type) -> tuple[str, int]:
    """`write_vertices_dist`, also returning the vertex count it took."""
    types = {f.name: graphar_type_of(f.dataType) for f in df.schema.fields if f.name != index_col}
    vi = VertexInfo(vtype, chunk_size, property_groups(types, groups, file_type))
    n = df.count()

    def write_chunk(key, table):
        k = key[0].as_py()
        table = table.sort_by(index_col)
        index = table[index_col].to_numpy()
        write_vertex_chunk(out_dir, vi, k, n, index, _columns(table, vi.property_groups))
        return pa.table({"chunk": [k], "rows": [table.num_rows]})

    written = (
        df.withColumn("__chunk", (F.col(index_col) / chunk_size).cast("long"))
        .groupBy("__chunk")
        .applyInArrow(write_chunk, "chunk long, rows long")
    )
    n_written = written.agg(F.sum("rows")).first()[0] or 0
    if n_written != n:
        raise ValueError(f"wrote {n_written} {vtype} vertex rows, expected {n}")
    return finish_vertices(out_dir, vi, n), n


def write_edges_dist(
    edges: DataFrame,
    out_dir: str,
    triple: tuple[str, str, str],
    vcounts: dict[str, int],
    *,
    src_col: str = SRC_INDEX_COL,
    dst_col: str = DST_INDEX_COL,
    chunk_size: int = 4096,
    src_chunk_size: int = 1024,
    dst_chunk_size: int = 1024,
    layouts: tuple[str, ...] = ("src", "dst"),
    directed: bool = True,
    file_type: str = "parquet",
) -> str:
    """Write one edge triple distributedly (CSR and/or CSC layout);
    returns the edge YAML name.  Property columns = all columns except
    src/dst."""
    prop_cols = [c for c in edges.columns if c not in (src_col, dst_col)]
    types = {f.name: graphar_type_of(f.dataType) for f in edges.schema.fields if f.name in prop_cols}
    ei = EdgeInfo(
        *triple,
        chunk_size=chunk_size,
        src_chunk_size=src_chunk_size,
        dst_chunk_size=dst_chunk_size,
        directed=directed,
        adj_lists=[AdjList(ab, True, file_type) for ab in layouts],
        property_groups=property_groups(types, None, file_type),
    )
    base = edges.select(
        F.col(src_col).cast("long").alias("__s"),
        F.col(dst_col).cast("long").alias("__d"),
        *prop_cols,
        F.lit(False).alias("__pad"),
    )

    for aligned_by in layouts:
        aligned_chunk, _, n_parts = aligned_parts(ei, aligned_by, vcounts)
        key = "__s" if aligned_by == "src" else "__d"
        # one pad row per part, so that empty parts still write their
        # (empty) adjacency chunk, all-zero offset chunk and edge_count
        pads = edges.sparkSession.range(n_parts).select(
            (F.col("id") * aligned_chunk).alias(key), F.lit(True).alias("__pad")
        )
        seeded = base.unionByName(pads, allowMissingColumns=True)

        def write_part(pkey, table):
            part = pkey[0].as_py()
            table = table.filter(pc.invert(table["__pad"]))
            src, dst = table["__s"].to_numpy(), table["__d"].to_numpy()
            props = _columns(table, ei.property_groups)
            write_edge_part(out_dir, ei, aligned_by, part, vcounts, src, dst, props)
            return pa.table({"part": [part], "edges": [table.num_rows]})

        (
            seeded.groupBy((F.col(key) / aligned_chunk).cast("long").alias("__part"))
            .applyInArrow(write_part, "part long, edges long")
            .agg(F.sum("edges"))
            .first()  # runs the distributed write
        )

    return finish_edges(out_dir, ei, vcounts)


def write_graph_dist(
    out_dir: str,
    name: str,
    vertices: dict[str, DataFrame],
    edges: dict[tuple[str, str, str], DataFrame] | None = None,
    *,
    vertex_chunk_size: int = 1024,
    edge_chunk_size: int = 4096,
    aligned_chunk_size: int = 1024,
    layouts: tuple[str, ...] = ("src", "dst"),
    file_type: str = "parquet",
    vertex_property_groups: dict[str, list[list[str]]] | None = None,
) -> str:
    """Write a whole graph distributedly; returns the graph YAML path.

    ``vertices[vtype]`` must carry a dense ``_graphArVertexIndex``
    (see :func:`with_dense_index`); ``edges[(src,etype,dst)]`` carries
    ``_graphArSrcIndex``/``_graphArDstIndex`` plus property columns.
    ``vertex_property_groups[vtype]`` optionally splits that type's
    property columns into column groups (default: one group per
    column)."""
    os.makedirs(out_dir, exist_ok=True)
    vertex_yamls, vcounts = [], {}
    for vtype, vdf in vertices.items():
        groups = (vertex_property_groups or {}).get(vtype)
        vy, vcounts[vtype] = _write_vertices(
            vdf, out_dir, vtype, VERTEX_INDEX_COL, vertex_chunk_size, groups, file_type
        )
        vertex_yamls.append(vy)
    edge_yamls = [
        write_edges_dist(
            edf,
            out_dir,
            triple,
            vcounts,
            chunk_size=edge_chunk_size,
            src_chunk_size=aligned_chunk_size,
            dst_chunk_size=aligned_chunk_size,
            layouts=layouts,
            file_type=file_type,
        )
        for triple, edf in (edges or {}).items()
    ]
    return dump_graph(out_dir, name, vertex_yamls, edge_yamls)
