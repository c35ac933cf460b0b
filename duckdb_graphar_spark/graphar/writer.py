"""GraphAr `gar/v1` layout writer.

The reference is read-only (every write throws,
`src/storage/graphar_catalog.cpp:61-81`), but its test data blobs are
stripped from the snapshot, so we need a writer to produce GraphAr-layout
fixtures for our own tests (SURVEY §2.A6: "`df.write.parquet` plus YAML
emit").

This module writes the layout once, for both graph writers:

- `write_vertex_chunk` writes one vertex chunk's property-group files;
- `write_edge_part` sorts and writes one edge part of one adjacency
  layout: its adjacency chunks, property chunks, offset chunk and
  `edge_count{i}`;
- `finish_vertices` / `finish_edges` write the count files and dump the
  YAML through `metadata`'s own dataclasses.

`write_graph` runs those writers in-process over numpy/pyarrow slices
(no Spark session needed); `spark_writer.write_graph_dist` runs the same
two file writers inside its Spark tasks.  Layout written (see the
metadata.py docstring): chunk files, ASCII-int count files, `gar/v1` YAML.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from duckdb_graphar_spark.graphar.metadata import (
    DST_INDEX_COL,
    OFFSET_COL,
    SRC_INDEX_COL,
    AdjList,
    EdgeInfo,
    Property,
    PropertyGroup,
    VertexInfo,
    dump_graph,
    graphar_type_of,
)


@dataclass
class VertexSpec:
    """One vertex type: `table` holds property columns in vertex-index order
    (row r == vertex index r). `property_groups` optionally splits columns
    into groups (list of column-name lists); default = one group per column,
    mirroring the reference fixture (one group `hash_phone_no/`).
    `file_type` ∈ parquet|orc|csv|json (reference A4: any Arrow-readable
    chunk format, `edges_vertex.cpp:162-165`)."""

    table: pa.Table
    chunk_size: int = 1024
    property_groups: list[list[str]] | None = None
    file_type: str = "parquet"


@dataclass
class EdgeSpec:
    """One edge triple: parallel int64 arrays src/dst (any order; the writer
    sorts per layout), plus optional property columns aligned with the
    *input* edge order."""

    src: np.ndarray
    dst: np.ndarray
    chunk_size: int = 4096
    src_chunk_size: int = 1024
    dst_chunk_size: int = 1024
    layouts: tuple[str, ...] = ("src", "dst")  # ordered_by_source / ordered_by_dest
    properties: pa.Table | None = None
    directed: bool = True
    file_type: str = "parquet"


def property_groups(
    types: dict[str, str], groups: list[list[str]] | None, file_type: str
) -> list[PropertyGroup]:
    """Property groups over columns `types` (name -> GraphAr type, in
    column order); default one group per column."""
    return [
        PropertyGroup([Property(c, types[c]) for c in cols], file_type)
        for cols in groups or [[c] for c in types]
    ]


def aligned_parts(ei: EdgeInfo, aligned_by: str, vcounts: dict[str, int]) -> tuple[int, int, int]:
    """(aligned chunk size, aligned vertex count, part count) of a layout:
    part i holds the edges whose aligned vertex is in vertex chunk i."""
    if aligned_by == "src":
        size, n = ei.src_chunk_size, vcounts[ei.src_type]
    else:
        size, n = ei.dst_chunk_size, vcounts[ei.dst_type]
    return size, n, max(1, -(-n // size))


def _write_chunk_file(table: pa.Table, path: str, file_type: str) -> None:
    """Write one chunk in any of the reference-supported formats (A4)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if file_type == "parquet":
        pq.write_table(table, path)
    elif file_type == "orc":
        from pyarrow import orc

        orc.write_table(table, path)
    elif file_type == "csv":
        from pyarrow import csv as pacsv

        pacsv.write_csv(table, path)
    elif file_type == "json":
        # GraphAr json = line-delimited records; dates serialized ISO
        cols = {}
        for name in table.column_names:
            col = table.column(name)
            cols[name] = col.cast(pa.string()) if pa.types.is_date(col.type) else col
        pa.table(cols).to_pandas().to_json(path, orient="records", lines=True)
    else:
        raise NotImplementedError(f"chunk file_type {file_type!r}")


def _write_count(path: str, value: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(str(value))


def write_vertex_chunk(
    out_dir: str, vi: VertexInfo, k: int, n: int, index: np.ndarray, table: pa.Table
) -> None:
    """Write chunk `k` of a vertex type with `n` vertices: one file per
    property group.  `index` holds the rows' vertex indexes, which must be
    exactly the chunk's share of the dense range 0..n-1."""
    lo = k * vi.chunk_size
    want = np.arange(lo, min(lo + vi.chunk_size, n))
    if not np.array_equal(index, want):
        raise ValueError(
            f"vertex type {vi.type} has {n} vertices but its chunk {k} holds indexes "
            f"{index[:5].tolist()}...: the vertex index must be dense 0..{n - 1}"
        )
    for pg in vi.property_groups:
        cols = table.select([p.name for p in pg.properties])
        _write_chunk_file(cols, os.path.join(out_dir, vi.prefix, pg.prefix, f"chunk{k}"), pg.file_type)


def write_edge_part(
    out_dir: str,
    ei: EdgeInfo,
    aligned_by: str,
    part: int,
    vcounts: dict[str, int],
    src: np.ndarray,
    dst: np.ndarray,
    props: pa.Table | None,
) -> None:
    """Sort and write part `part` of the `aligned_by` layout: adjacency
    chunks, property chunks (`props` rows align with src/dst), the offset
    chunk and `edge_count{part}`.  Every id must lie in [0, vertex count)."""
    n_src, n_dst = vcounts[ei.src_type], vcounts[ei.dst_type]
    bad = ~((src >= 0) & (src < n_src) & (dst >= 0) & (dst < n_dst))
    if bad.any():
        i = int(np.argmax(bad))
        raise ValueError(
            f"edge ({src[i]}, {dst[i]}) of {ei.triple_name} has an id outside "
            f"[0, vertex count): {ei.src_type} has {n_src}, {ei.dst_type} has {n_dst}"
        )
    key, other = (src, dst) if aligned_by == "src" else (dst, src)
    order = np.lexsort((other, key))
    src, dst, key = src[order], dst[order], key[order]
    if ei.property_groups:
        props = props.take(order)
    adir = os.path.join(out_dir, ei.prefix, ei.adj_list(aligned_by).prefix)
    file_type = ei.adj_list(aligned_by).file_type
    size = ei.chunk_size
    for j in range(max(1, -(-len(src) // size))):
        rows = slice(j * size, (j + 1) * size)
        ids = {SRC_INDEX_COL: src[rows], DST_INDEX_COL: dst[rows]}
        adj = pa.table({c: pa.array(v, pa.int64()) for c, v in ids.items()})
        _write_chunk_file(adj, os.path.join(adir, "adj_list", f"part{part}", f"chunk{j}"), file_type)
        for pg in ei.property_groups:
            cols = props.select([p.name for p in pg.properties]).slice(j * size, size)
            path = os.path.join(adir, pg.prefix, f"part{part}", f"chunk{j}")
            _write_chunk_file(cols, path, pg.file_type)
    # offset chunk: aligned_chunk+1 cumulative counts relative to the part start
    aligned_chunk, n_aligned, _ = aligned_parts(ei, aligned_by, vcounts)
    vlo = part * aligned_chunk
    offs = np.searchsorted(key, np.arange(vlo, min(vlo + aligned_chunk, n_aligned) + 1))
    offsets = pa.table({OFFSET_COL: pa.array(offs, pa.int64())})
    _write_chunk_file(offsets, os.path.join(adir, "offset", f"chunk{part}"), file_type)
    _write_count(os.path.join(adir, f"edge_count{part}"), len(src))


def finish_vertices(out_dir: str, vi: VertexInfo, n: int) -> str:
    """Write the type's `vertex_count` and its YAML; returns the YAML name."""
    _write_count(os.path.join(out_dir, vi.prefix, "vertex_count"), n)
    return vi.dump(out_dir)


def finish_edges(out_dir: str, ei: EdgeInfo, vcounts: dict[str, int]) -> str:
    """Write each layout's `vertex_count` and the edge YAML; returns the YAML name."""
    for a in ei.adj_lists:
        n = aligned_parts(ei, a.aligned_by, vcounts)[1]
        _write_count(os.path.join(out_dir, ei.prefix, a.prefix, "vertex_count"), n)
    return ei.dump(out_dir)


def write_graph(
    out_dir: str,
    name: str,
    vertices: dict[str, VertexSpec],
    edges: dict[tuple[str, str, str], EdgeSpec] | None = None,
) -> str:
    """Write a GraphAr graph; returns the path of the graph YAML."""
    os.makedirs(out_dir, exist_ok=True)
    vertex_yamls, edge_yamls = [], []

    for vtype, spec in vertices.items():
        types = {f.name: graphar_type_of(f.type) for f in spec.table.schema}
        groups = property_groups(types, spec.property_groups, spec.file_type)
        vi = VertexInfo(vtype, spec.chunk_size, groups)
        n = spec.table.num_rows
        for k in range(max(1, -(-n // spec.chunk_size))):
            lo = k * spec.chunk_size
            rows = np.arange(lo, min(lo + spec.chunk_size, n))
            write_vertex_chunk(out_dir, vi, k, n, rows, spec.table.slice(lo, len(rows)))
        vertex_yamls.append(finish_vertices(out_dir, vi, n))

    vcounts = {vtype: spec.table.num_rows for vtype, spec in vertices.items()}
    for triple, spec in (edges or {}).items():
        props = spec.properties
        types = {f.name: graphar_type_of(f.type) for f in props.schema} if props is not None else {}
        ei = EdgeInfo(
            *triple,
            chunk_size=spec.chunk_size,
            src_chunk_size=spec.src_chunk_size,
            dst_chunk_size=spec.dst_chunk_size,
            directed=spec.directed,
            adj_lists=[AdjList(ab, True, spec.file_type) for ab in spec.layouts],
            property_groups=property_groups(types, None, spec.file_type),
        )
        src = np.asarray(spec.src, dtype=np.int64)
        dst = np.asarray(spec.dst, dtype=np.int64)
        for aligned_by in spec.layouts:
            aligned_chunk, _, n_parts = aligned_parts(ei, aligned_by, vcounts)
            # an id outside the vertex range lands in an end part, which rejects it
            key = src if aligned_by == "src" else dst
            part_of = np.clip(key // aligned_chunk, 0, n_parts - 1)
            for part in range(n_parts):
                rows = np.flatnonzero(part_of == part)
                part_props = props.take(rows) if props is not None else None
                write_edge_part(out_dir, ei, aligned_by, part, vcounts, src[rows], dst[rows], part_props)
        edge_yamls.append(finish_edges(out_dir, ei, vcounts))

    return dump_graph(out_dir, name, vertex_yamls, edge_yamls)
