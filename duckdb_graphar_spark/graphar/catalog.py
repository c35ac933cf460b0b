"""Catalog attach: expose every vertex/edge type of a GraphAr graph as
Spark temp views.

Parity with the reference's storage extension
(`ATTACH 'Graph.yaml' AS g (TYPE duckdb_graphar)`,
`src/storage/graphar_storage.cpp:19-41`), which materializes one
read-only catalog table per vertex/edge info named `{Type}.vertex` /
`{Src}_{edge}_{Dst}.edge` (`src/utils/func.cpp:55-63`,
`src/storage/graphar_table_set.cpp:48-97`).

Each view is a `format("graphar")` scan (`datasource.py`): the reference's
catalog tables bind the same scan machinery as its table functions
(`graphar_table_entry.cpp:34-58`), and here the views read the plan of the
same planner as `read_vertices` / `read_edges` (`reader.py`), so a SQL
`WHERE _graphArSrcIndex = k` prunes chunk partitions at planning time and
property groups are zipped without a shuffle.

Naming: the reference's names contain a literal dot.  Spark accepts a
single-part temp-view name containing a dot only via backquoting, so
`attach` registers BOTH spellings by default: the reference-exact
dotted name (`Person.vertex` — query as ``SELECT * FROM
`Person.vertex` ``; `SHOW TABLES` / `listTables` includes the golden
name) and an underscore alias (`Person_vertex`) for unquoted SQL.
Two documented deviations: the backquote (DuckDB resolves the
unquoted two-part `Person.vertex` against its attached catalog,
while Spark would parse it as `database.table` — and Python data
source catalog tables cannot carry the graph-YAML option through a
round-trip, so a real per-type database is not implementable without
materializing the data), and the underscore base views, which are
registered even under ``naming="dotted"`` (each dotted view is a SQL
view defined over its underscore twin, so the session catalog lists
both; the returned dict contains only the requested spelling).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from duckdb_graphar_spark.graphar.datasource import register
from duckdb_graphar_spark.graphar.metadata import GraphInfo


def attach(spark: SparkSession, yaml_path: str, *, naming: str = "both") -> dict[str, str]:
    """Register temp views for every vertex/edge type of the graph YAML at
    `yaml_path`; returns {view_name: kind} for introspection (`SHOW
    TABLES` parity, `config/test/sql/graphar/attach.test:4-16`).

    ``naming``: "dotted" registers the reference-exact names
    (`Person.vertex`, backquote to query), "underscore" the
    Spark-friendly aliases (`Person_vertex`), "both" (default) both."""
    if naming not in ("dotted", "underscore", "both"):
        raise ValueError(f"naming must be dotted|underscore|both, got {naming!r}")

    def register_views(df, base: str, kind: str, registered: dict[str, str]) -> None:
        underscore = f"{base}_{kind}"
        df.createOrReplaceTempView(underscore)
        if naming in ("underscore", "both"):
            registered[underscore] = kind
        if naming in ("dotted", "both"):
            dotted = f"{base}.{kind}"
            # literal-dot single-part temp view (reference-exact name);
            # defined over the underscore view, which always exists
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY VIEW `{dotted}` AS "
                f"SELECT * FROM {underscore}"
            )
            registered[dotted] = kind

    register(spark)
    g = GraphInfo.load(yaml_path)

    def load(**options):
        return spark.read.format("graphar").options(path=yaml_path, **options).load()

    registered: dict[str, str] = {}
    for vtype in g.vertices:
        register_views(load(type=vtype), vtype, "vertex", registered)
    for (src, etype, dst) in g.edges:
        view = f"{src}_{etype}_{dst}"
        register_views(load(src=src, edge=etype, dst=dst), view, "edge", registered)
    return registered
