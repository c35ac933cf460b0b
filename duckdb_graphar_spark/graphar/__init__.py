"""GraphAr (Apache GraphAr, `gar/v1`) support for Spark.

Mirrors the capability surface of the reference extension
(`src/functions/table/read_vertices.cpp`,
`read_edges.cpp`, `src/storage/graphar_storage.cpp`) with an
idiomatic-PySpark design:

- `metadata`: the YAML model and chunk-file path rules.
- `reader`: the one read planner (chunk addressing, layout choice, CSR
  offset seek, id checks), and the DataFrame readers `read_vertices` /
  `read_edges`, which scan the planned files with Spark's vectorized
  Parquet reader and join the property groups on the index.
- `datasource`: `format("graphar")`, which reads the same plan and zips
  the property groups per chunk through Arrow.
- `catalog`: `attach`, one view per vertex/edge type over the data source.
- `writer` / `spark_writer`: local and distributed graph writers.
"""

from duckdb_graphar_spark.graphar.metadata import (
    EdgeInfo,
    GraphInfo,
    PropertyGroup,
    VertexInfo,
)
from duckdb_graphar_spark.graphar.reader import read_edges, read_vertices
from duckdb_graphar_spark.graphar.catalog import attach
from duckdb_graphar_spark.graphar.writer import EdgeSpec, VertexSpec, write_graph
from duckdb_graphar_spark.graphar.spark_writer import (
    with_dense_index,
    write_edges_dist,
    write_graph_dist,
    write_vertices_dist,
)
from duckdb_graphar_spark.graphar.datasource import GraphArDataSource, register

__all__ = [
    "GraphArDataSource",
    "register",
    "GraphInfo",
    "VertexInfo",
    "EdgeInfo",
    "PropertyGroup",
    "read_vertices",
    "read_edges",
    "attach",
    "write_graph",
    "write_graph_dist",
    "write_vertices_dist",
    "write_edges_dist",
    "with_dense_index",
    "VertexSpec",
    "EdgeSpec",
]
