"""GraphAr reader/writer/catalog tests (reference parity:
config/test/sql/graphar/{read_vertices,read_edges,attach}.test)."""

import numpy as np
import pyarrow as pa
import pytest

from duckdb_graphar_spark import graphar
from duckdb_graphar_spark.graphar.metadata import GraphInfo


def test_vertex_full_scan(spark, graph_fixture):
    v = graphar.read_vertices(spark, graph_fixture["yaml"], "Person")
    assert v.count() == graph_fixture["n"]
    rows = v.orderBy("_graphArVertexIndex").limit(3).collect()
    assert [r._graphArVertexIndex for r in rows] == [0, 1, 2]
    assert [r.name for r in rows] == ["p0", "p1", "p2"]
    # schema: index first, then flattened props (read_base.hpp:167-172)
    assert v.columns[0] == "_graphArVertexIndex"


def test_vertex_point_lookup(spark, graph_fixture):
    v = graphar.read_vertices(spark, graph_fixture["yaml"], "Person", vid=1234)
    rows = v.collect()
    assert len(rows) == 1 and rows[0].hash_phone_no == 1234


def test_vertex_point_lookup_out_of_range(spark, graph_fixture):
    with pytest.raises(ValueError):
        graphar.read_vertices(spark, graph_fixture["yaml"], "Person", vid=10**9)


@pytest.mark.parametrize("side", ["src", "dst"])
def test_edge_point_lookup_out_of_range(spark, graph_fixture, side):
    """Error-path parity (`read_vertices.cpp:98-108` BinderException):
    an out-of-range point id must raise on BOTH edge layouts, not
    silently return empty."""
    kw = {f"{side}_vid": 10**9}
    with pytest.raises(ValueError, match="out of range"):
        graphar.read_edges(
            spark, graph_fixture["yaml"], "Person", "knows", "Person", **kw
        )
    with pytest.raises(ValueError, match="out of range"):
        graphar.read_edges(
            spark, graph_fixture["yaml"], "Person", "knows", "Person", **{f"{side}_vid": -1}
        )


def test_vertex_column_pruning(spark, graph_fixture):
    v = graphar.read_vertices(spark, graph_fixture["yaml"], "Person", columns=["score"])
    assert v.columns == ["_graphArVertexIndex", "score"]


def test_date_type_roundtrip(spark, graph_fixture):
    import datetime

    v = graphar.read_vertices(spark, graph_fixture["yaml"], "Person", vid=3)
    assert v.collect()[0].signup_date == datetime.date(2020, 1, 4)


def test_edge_full_scan(spark, graph_fixture):
    e = graphar.read_edges(spark, graph_fixture["yaml"], "Person", "knows", "Person")
    assert e.count() == len(graph_fixture["src"])
    assert e.columns == ["_graphArSrcIndex", "_graphArDstIndex"]


def test_edge_src_point_lookup(spark, graph_fixture):
    src, dst = graph_fixture["src"], graph_fixture["dst"]
    for vid in [0, 42, 997, 1999]:
        e = graphar.read_edges(
            spark, graph_fixture["yaml"], "Person", "knows", "Person", src_vid=vid
        )
        got = sorted(r._graphArDstIndex for r in e.collect())
        assert got == sorted(dst[src == vid].tolist()), vid


def test_edge_dst_point_lookup_uses_csc(spark, graph_fixture):
    src, dst = graph_fixture["src"], graph_fixture["dst"]
    vid = 7
    e = graphar.read_edges(
        spark, graph_fixture["yaml"], "Person", "knows", "Person", dst_vid=vid
    )
    got = sorted(r._graphArSrcIndex for r in e.collect())
    assert got == sorted(src[dst == vid].tolist())


def test_edge_combined_src_dst_lookup(spark, graph_fixture):
    """BOTH point predicates: one side prunes chunks, the other must be
    applied as a row filter — never silently dropped."""
    src, dst = graph_fixture["src"], graph_fixture["dst"]
    svid = 997  # hub, degree 500
    dvid = int(dst[src == svid][3])
    e = graphar.read_edges(
        spark, graph_fixture["yaml"], "Person", "knows", "Person",
        src_vid=svid, dst_vid=dvid,
    )
    got = sorted(map(tuple, e.select("_graphArSrcIndex", "_graphArDstIndex").collect()))
    expect = sorted(
        (int(s), int(d)) for s, d in zip(src, dst) if s == svid and d == dvid
    )
    assert got == expect and len(got) >= 1


def test_metadata_counts(graph_fixture):
    g = GraphInfo.load(graph_fixture["yaml"])
    assert g.vertex_count("Person") == graph_fixture["n"]
    ei = g.edges[("Person", "knows", "Person")]
    assert g.edge_count(ei) == len(graph_fixture["src"])


def test_attach_views(spark, graph_fixture):
    views = graphar.attach(spark, graph_fixture["yaml"], naming="underscore")
    assert views == {"Person_vertex": "vertex", "Person_knows_Person_edge": "edge"}
    n = spark.sql("SELECT count(*) AS n FROM Person_vertex").collect()[0].n
    assert n == graph_fixture["n"]
    # arbitrary-property filter through SQL (read_vertices.test:12-15 parity)
    r = spark.sql(
        "SELECT _graphArVertexIndex FROM Person_vertex WHERE hash_phone_no = 42"
    ).collect()
    assert [x._graphArVertexIndex for x in r] == [42]


def test_attach_dotted_golden_names(spark, graph_fixture):
    """A3 catalog parity: dotted view names match the reference's SHOW
    TABLES golden byte-for-byte (`config/test/sql/graphar/attach.test:
    6-16`: Person.vertex / Person_knows_Person.edge, naming scheme
    `src/utils/func.cpp:55-63`); queried with backquotes (the documented
    Spark-quoting deviation)."""
    views = graphar.attach(spark, graph_fixture["yaml"], naming="dotted")
    assert views == {"Person.vertex": "vertex", "Person_knows_Person.edge": "edge"}
    # reference golden list, same order (vertices then edges)
    assert list(views) == ["Person.vertex", "Person_knows_Person.edge"]
    # the golden names are listed in the session catalog; the underscore
    # base views also exist (documented deviation — dotted views are SQL
    # views over them)
    # the session catalog stores temp-view names case-folded, so compare
    # lowercased; the case-exact golden spelling is asserted via `views`
    listed = {t.name.lower() for t in spark.catalog.listTables()}
    assert {"person.vertex", "person_knows_person.edge"} <= listed
    assert {"person_vertex", "person_knows_person_edge"} <= listed
    n = spark.sql("SELECT count(*) AS n FROM `Person.vertex`").collect()[0].n
    assert n == graph_fixture["n"]
    src, dst = graph_fixture["src"], graph_fixture["dst"]
    got = spark.sql(
        "SELECT _graphArDstIndex FROM `Person_knows_Person.edge` "
        "WHERE _graphArSrcIndex = 42 ORDER BY 1"
    ).collect()
    assert [r._graphArDstIndex for r in got] == sorted(dst[src == 42].tolist())


@pytest.mark.parametrize("file_type", ["orc", "csv", "json"])
def test_multiformat_roundtrip(spark, graph_fixture, tmp_path, file_type):
    """A4: orc/csv/json chunk files read through the Arrow path must match
    the parquet read bit-for-bit (vertices incl. date column, edges incl.
    point lookups against ground truth)."""
    from duckdb_graphar_spark.graphar import EdgeSpec, VertexSpec, write_graph, read_vertices, read_edges

    n = 300
    src, dst = make_graph_arrays_small(n)
    import datetime

    vt = pa.table(
        {
            "hash_phone_no": pa.array(np.arange(n), pa.int64()),
            "name": pa.array([f"p{i}" for i in range(n)], pa.string()),
            "score": pa.array(np.round(np.arange(n) * 0.5, 2), pa.float64()),
            "signup_date": pa.array(
                [datetime.date(2020, 1, 1) + datetime.timedelta(days=i % 400) for i in range(n)],
                pa.date32(),
            ),
        }
    )
    gys = {}
    for ft in ["parquet", file_type]:
        gys[ft] = write_graph(
            str(tmp_path / ft),
            "G",
            {"Person": VertexSpec(vt, chunk_size=64, file_type=ft)},
            {
                ("Person", "knows", "Person"): EdgeSpec(
                    src, dst, chunk_size=128, src_chunk_size=64, dst_chunk_size=64, file_type=ft
                )
            },
        )
    ref_v = sorted(map(tuple, read_vertices(spark, gys["parquet"], "Person").collect()))
    got_v = sorted(map(tuple, read_vertices(spark, gys[file_type], "Person").collect()))
    assert got_v == ref_v

    ref_e = sorted(map(tuple, read_edges(spark, gys["parquet"], "Person", "knows", "Person").collect()))
    got_e = sorted(map(tuple, read_edges(spark, gys[file_type], "Person", "knows", "Person").collect()))
    assert got_e == ref_e

    vid = int(src[0])
    lookup = read_edges(spark, gys[file_type], "Person", "knows", "Person", src_vid=vid)
    expect = sorted(int(d) for s, d in zip(src, dst) if s == vid)
    assert sorted(r._graphArDstIndex for r in lookup.collect()) == expect

    # the data source reads the same chunks through its Arrow zip
    from duckdb_graphar_spark.graphar.datasource import register

    register(spark)

    def ds(**options):
        return spark.read.format("graphar").options(path=gys[file_type], **options).load()

    assert sorted(map(tuple, ds(type="Person").collect())) == ref_v
    e = ds(src="Person", edge="knows", dst="Person")
    assert sorted(map(tuple, e.collect())) == ref_e
    ref_lookup = read_edges(spark, gys["parquet"], "Person", "knows", "Person", src_vid=vid)
    got_lookup = e.filter(f"_graphArSrcIndex = {vid}")
    assert sorted(map(tuple, got_lookup.collect())) == sorted(map(tuple, ref_lookup.collect()))


def make_graph_arrays_small(n):
    deg = 1 + (np.arange(n) % 5)
    src = np.repeat(np.arange(n), deg)
    k = np.concatenate([np.arange(d) for d in deg])
    dst = (src * 13 + k * 7 + 3) % n
    return src.astype(np.int64), dst.astype(np.int64)


def test_python_datasource_vertices(spark, graph_fixture):
    from duckdb_graphar_spark.graphar.datasource import register
    from duckdb_graphar_spark.graphar import read_vertices

    register(spark)
    ds = (
        spark.read.format("graphar")
        .option("path", graph_fixture["yaml"])
        .option("type", "Person")
        .load()
    )
    assert ds.count() == graph_fixture["n"]
    ref = sorted(map(tuple, read_vertices(spark, graph_fixture["yaml"], "Person").collect()))
    got = sorted(map(tuple, ds.collect()))
    assert got == ref


def test_python_datasource_edge_pushdown(spark, graph_fixture):
    from duckdb_graphar_spark.graphar.datasource import register
    import pyspark.sql.functions as F

    register(spark)
    e = (
        spark.read.format("graphar")
        .option("path", graph_fixture["yaml"])
        .option("src", "Person").option("edge", "knows").option("dst", "Person")
        .load()
    )
    src, dst = graph_fixture["src"], graph_fixture["dst"]
    assert e.count() == len(src)
    vid = 997  # hub vertex, degree 500
    got = sorted(r._graphArDstIndex for r in e.filter(F.col("_graphArSrcIndex") == vid).collect())
    expect = sorted(int(d) for s, d in zip(src, dst) if s == vid)
    assert got == expect
    # dst-side lookup exercises the CSC layout choice
    dvid = int(dst[5])
    got_d = sorted(r._graphArSrcIndex for r in e.filter(F.col("_graphArDstIndex") == dvid).collect())
    expect_d = sorted(int(s) for s, d in zip(src, dst) if d == dvid)
    assert got_d == expect_d


def test_python_datasource_combined_src_dst_filter(spark, graph_fixture):
    """pushFilters must yield back the point filter partitions() won't
    honor so Spark evaluates it above the scan (ADVICE r1: the consumed
    -but-unapplied filter silently returned extra rows)."""
    from duckdb_graphar_spark.graphar.datasource import register
    import pyspark.sql.functions as F

    register(spark)
    src, dst = graph_fixture["src"], graph_fixture["dst"]
    e = (
        spark.read.format("graphar")
        .option("path", graph_fixture["yaml"])
        .option("src", "Person").option("edge", "knows").option("dst", "Person")
        .load()
    )
    svid = 997
    dvid = int(dst[src == svid][3])
    got = sorted(map(tuple, e.filter(
        (F.col("_graphArSrcIndex") == svid) & (F.col("_graphArDstIndex") == dvid)
    ).select("_graphArSrcIndex", "_graphArDstIndex").collect()))
    expect = sorted(
        (int(s), int(d)) for s, d in zip(src, dst) if s == svid and d == dvid
    )
    assert got == expect and len(got) >= 1


def test_python_datasource_vertex_point_lookup(spark, graph_fixture):
    from duckdb_graphar_spark.graphar.datasource import register
    import pyspark.sql.functions as F

    register(spark)
    v = (
        spark.read.format("graphar")
        .option("path", graph_fixture["yaml"])
        .option("type", "Person")
        .load()
        .filter(F.col("_graphArVertexIndex") == 1234)
    )
    rows = v.collect()
    assert len(rows) == 1 and rows[0].name == "p1234" and rows[0].hash_phone_no == 1234


def test_uri_addressed_graph(spark, graph_fixture):
    """A5 parity: graph metadata + data addressable by URI (file:// here;
    s3:///gs:// resolve through the same pyarrow.fs path,
    reference `FileSystemFromUriOrPath` src/utils/func.cpp:124-148)."""
    uri = "file://" + graph_fixture["yaml"]
    v = graphar.read_vertices(spark, uri, "Person")
    assert v.count() == graph_fixture["n"]
    e = graphar.read_edges(spark, uri, "Person", "knows", "Person", src_vid=42)
    src, dst = graph_fixture["src"], graph_fixture["dst"]
    assert sorted(r["_graphArDstIndex"] for r in e.collect()) == sorted(
        dst[src == 42].tolist()
    )
    from duckdb_graphar_spark.graphar import GraphInfo

    g = GraphInfo.load(uri)
    assert g.vertex_count("Person") == graph_fixture["n"]


def test_multi_edge_type_attach_and_explicit_selection(spark, tmp_path):
    """Two edge types over one vertex set: attach registers BOTH edge
    views, per-triple reads return DISTINCT edge sets, and traversal
    type selection is EXPLICIT (the reference's BFS silently pins edge
    type 0 on such graphs, src/functions/scalar/bfs.cpp:61-70 — this
    engine takes the edge relation as an argument, so the quirk cannot
    exist here; this test pins the contract)."""
    import numpy as np
    import pyarrow as pa

    from duckdb_graphar_spark.graphar.writer import EdgeSpec, VertexSpec, write_graph

    # knows: 0->1->2->3 chain; follows: 0->3 shortcut
    y = write_graph(
        str(tmp_path), "MG",
        {"Person": VertexSpec(table=pa.table({"name": ["a", "b", "c", "d"]}))},
        {
            ("Person", "knows", "Person"): EdgeSpec(
                src=np.array([0, 1, 2]), dst=np.array([1, 2, 3])
            ),
            ("Person", "follows", "Person"): EdgeSpec(
                src=np.array([0]), dst=np.array([3])
            ),
        },
    )
    views = graphar.attach(spark, y, naming="underscore")
    assert set(views) == {
        "Person_vertex",
        "Person_knows_Person_edge",
        "Person_follows_Person_edge",
    }
    k = graphar.read_edges(spark, y, "Person", "knows", "Person")
    f = graphar.read_edges(spark, y, "Person", "follows", "Person")
    assert k.count() == 3 and f.count() == 1
    # explicit type selection changes the traversal answer: 0->3 is 3
    # hops over `knows`, 1 hop over `follows`
    from duckdb_graphar_spark.operators.graph import bfs_length

    assert (
        bfs_length(k, 0, 3, src_col="_graphArSrcIndex", dst_col="_graphArDstIndex")
        == 3
    )
    assert (
        bfs_length(f, 0, 3, src_col="_graphArSrcIndex", dst_col="_graphArDstIndex")
        == 1
    )


def test_graphinfo_cache_hit_and_subyaml_invalidation(tmp_path):
    """GraphInfo.load caches per process (same object on unchanged
    files) and the freshness token covers the SUB-yamls too: an
    in-place edit of a vertex yaml alone — no graph.yaml rewrite —
    must invalidate the entry."""
    import os
    import time

    import numpy as np
    import pyarrow as pa

    from duckdb_graphar_spark.graphar.metadata import GraphInfo
    from duckdb_graphar_spark.graphar.writer import EdgeSpec, VertexSpec, write_graph

    y = write_graph(
        str(tmp_path), "CG",
        {"Person": VertexSpec(table=pa.table({"name": ["a", "b", "c"]}))},
        {("Person", "knows", "Person"): EdgeSpec(
            src=np.array([0, 1]), dst=np.array([1, 2]))},
    )
    g1 = GraphInfo.load(y)
    assert GraphInfo.load(y) is g1  # unchanged files -> cache hit
    # locate the vertex sub-yaml and touch ONLY it
    sub = [
        os.path.join(os.path.dirname(y), f)
        for f in os.listdir(os.path.dirname(y))
        if f.endswith((".yaml", ".yml"))
        and os.path.join(os.path.dirname(y), f) != y
        and (
            "vertex" in open(os.path.join(os.path.dirname(y), f)).read().lower()
            or f.startswith("Person.")
        )
    ]
    assert sub, "no vertex sub-yaml found"
    with open(sub[0], "a") as fh:
        fh.write("\n# touched\n")
    time.sleep(0.01)
    g2 = GraphInfo.load(y)
    assert g2 is not g1  # sub-yaml edit invalidated the cached entry
    assert g2.vertices.keys() == g1.vertices.keys()  # still parses


def test_graphinfo_cache_stats_before_read(tmp_path, monkeypatch):
    """A rewrite that lands BETWEEN GraphInfo.load's read and its token
    capture must not be cached as fresh.  Tokens are captured pre-read
    (metadata.GraphInfo._load_uncached), so the mid-load rewrite leaves a
    stale token and the NEXT load re-parses; the old stat-after-read order
    cached the pre-rewrite parse under the post-rewrite token — served
    stale forever."""
    import numpy as np
    import pyarrow as pa

    from duckdb_graphar_spark.graphar import metadata as md
    from duckdb_graphar_spark.graphar.writer import EdgeSpec, VertexSpec, write_graph

    y = write_graph(
        str(tmp_path), "CG2",
        {"Person": VertexSpec(table=pa.table({"name": ["a", "b"]}))},
        {("Person", "knows", "Person"): EdgeSpec(
            src=np.array([0]), dst=np.array([1]))},
    )
    real_read = md._read_text
    fired = {"done": False}

    def racing_read(path):
        text = real_read(path)
        if path == y and not fired["done"]:
            fired["done"] = True
            with open(y, "a") as fh:  # concurrent writer lands mid-load
                fh.write("\n# rewritten-between-read-and-stat\n")
        return text

    monkeypatch.setattr(md, "_read_text", racing_read)
    g1 = md.GraphInfo.load(y)  # parse predates the rewrite
    monkeypatch.setattr(md, "_read_text", real_read)
    g2 = md.GraphInfo.load(y)
    assert g2 is not g1, (
        "mid-load rewrite was cached as fresh - token captured after read"
    )


def _small_graph(out_dir, src, dst, *, n, names=None, src_chunk_size=1024, edge_props=None):
    from duckdb_graphar_spark.graphar.writer import EdgeSpec, VertexSpec, write_graph

    names = names or [f"v{i}" for i in range(n)]
    return write_graph(
        str(out_dir), "Small",
        {"Person": VertexSpec(table=pa.table({"name": names}), chunk_size=src_chunk_size)},
        {("Person", "knows", "Person"): EdgeSpec(
            src=np.asarray(src, np.int64), dst=np.asarray(dst, np.int64),
            src_chunk_size=src_chunk_size, dst_chunk_size=src_chunk_size,
            properties=edge_props,
        )},
    )


def test_zero_out_degree_point_lookup_is_empty(spark, tmp_path):
    """A point lookup on a vertex with no out-edges plans no partition;
    PySpark then reads one `None` partition, which must yield no rows
    (through `format("graphar")` and through the attached view)."""
    from duckdb_graphar_spark.graphar.datasource import register

    y = _small_graph(
        tmp_path, [0, 1, 1], [1, 2, 0], n=4, edge_props=pa.table({"w": [0.5, 1.5, 2.5]})
    )
    register(spark)
    e = (
        spark.read.format("graphar").option("path", y)
        .option("src", "Person").option("edge", "knows").option("dst", "Person")
        .load()
    )
    assert e.filter("_graphArSrcIndex = 3").collect() == []
    assert e.filter("_graphArDstIndex = 3").collect() == []
    assert sorted(r[1] for r in e.filter("_graphArSrcIndex = 1").collect()) == [0, 2]
    graphar.attach(spark, y, naming="underscore")
    q = "SELECT _graphArDstIndex FROM Person_knows_Person_edge WHERE _graphArSrcIndex = {}"
    assert spark.sql(q.format(3)).collect() == []
    assert spark.sql(q.format(2)).collect() == []

    # the helper reader's projection does not depend on the vertex's degree
    S, D = "_graphArSrcIndex", "_graphArDstIndex"
    for columns, want in ((None, [S, D, "w"]), ([], [S, D]), (["w"], [S, D, "w"])):
        empty, hit = (
            graphar.read_edges(spark, y, "Person", "knows", "Person", src_vid=v, columns=columns)
            for v in (3, 1)
        )
        assert empty.collect() == [] and len(hit.collect()) == 2
        assert empty.columns == hit.columns == want, columns


def test_property_less_vertex_type_reads_alike_on_every_surface(spark, tmp_path):
    """A vertex type with no property groups has only its index column:
    the helper reader, `format("graphar")` and the attached view all
    return one row per vertex, for a full scan and for a point lookup."""
    from duckdb_graphar_spark.graphar.datasource import register
    from duckdb_graphar_spark.graphar.writer import VertexSpec, write_graph

    bare = pa.table({"x": list(range(10))}).drop_columns(["x"])
    y = write_graph(str(tmp_path), "Bare", {"Tag": VertexSpec(table=bare, chunk_size=4)})
    register(spark)
    graphar.attach(spark, y, naming="underscore")
    surfaces = {
        "read_vertices": lambda vid: graphar.read_vertices(spark, y, "Tag", vid=vid),
        "format": lambda vid: (
            spark.read.format("graphar").options(path=y, type="Tag").load()
            .filter("true" if vid is None else f"_graphArVertexIndex = {vid}")
        ),
        "view": lambda vid: spark.sql(
            "SELECT * FROM Tag_vertex"
            + ("" if vid is None else f" WHERE _graphArVertexIndex = {vid}")
        ),
    }
    for name, read in surfaces.items():
        assert sorted(r[0] for r in read(None).collect()) == list(range(10)), name
        assert [tuple(r) for r in read(3).collect()] == [(3,)], name
        assert read(9).columns == ["_graphArVertexIndex"], name


def test_separately_built_edge_frames_join_by_column_reference(spark, tmp_path):
    """Two `read_edges` calls on one graph may share one reused Parquet
    relation; each must still return its own attribute ids, or joining
    them by column reference is ambiguous."""
    from collections import Counter

    rng = np.random.default_rng(7)
    src, dst = rng.integers(0, 40, 150), rng.integers(0, 40, 150)
    y = _small_graph(tmp_path, src, dst, n=40, src_chunk_size=8)
    S, D = "_graphArSrcIndex", "_graphArDstIndex"
    a = graphar.read_edges(spark, y, "Person", "knows", "Person")
    b = graphar.read_edges(spark, y, "Person", "knows", "Person")
    got = Counter(
        (r[0], r[1])
        for r in a.join(b, a[D] == b[S]).select(a[S], b[D]).collect()
    )
    want = Counter(
        (int(s1), int(d2))
        for s1, d1 in zip(src, dst)
        for s2, d2 in zip(src, dst)
        if d1 == s2
    )
    assert got == want and len(want) > 0


def test_reader_sees_graph_rewritten_in_place(spark, tmp_path):
    """Relation reuse is stat-checked: rewriting the graph at the same
    path with different edges and names shows up on the next read."""
    y = _small_graph(tmp_path, [0, 1], [1, 2], n=3, names=["a", "b", "c"])
    e = graphar.read_edges(spark, y, "Person", "knows", "Person")
    assert sorted(tuple(r) for r in e.collect()) == [(0, 1), (1, 2)]
    v = graphar.read_vertices(spark, y, "Person")
    assert [r.name for r in v.orderBy("_graphArVertexIndex").collect()] == ["a", "b", "c"]

    y2 = _small_graph(
        tmp_path, [0, 2, 2, 1], [2, 0, 1, 0], n=3, names=["xx", "yyy", "zzzz"]
    )
    assert y2 == y
    e = graphar.read_edges(spark, y, "Person", "knows", "Person")
    assert sorted(tuple(r) for r in e.collect()) == [(0, 2), (1, 0), (2, 0), (2, 1)]
    v = graphar.read_vertices(spark, y, "Person")
    assert [r.name for r in v.orderBy("_graphArVertexIndex").collect()] == [
        "xx", "yyy", "zzzz"
    ]


def test_second_edge_build_runs_no_spark_job(spark, tmp_path):
    """40 adjacency chunk files exceed Spark's 32-path parallel listing
    threshold, so the first `read_edges` build runs a file-listing job;
    a second build of the unchanged graph reuses the relation and runs
    none; after the chunk files are rewritten the relation is built
    (and the files listed) again."""
    n = 80
    src = np.arange(n)
    y = _small_graph(tmp_path, src, (src + 1) % n, n=n, src_chunk_size=2)
    sc = spark.sparkContext

    def jobs_to_build(group):
        sc.setJobGroup(group, group)
        try:
            graphar.read_edges(spark, y, "Person", "knows", "Person")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_to_build("reader-first-build") > 0
    assert jobs_to_build("reader-second-build") == 0
    _small_graph(tmp_path, np.repeat(src, 2), np.repeat((src + 2) % n, 2), n=n, src_chunk_size=2)
    assert jobs_to_build("reader-after-rewrite") > 0
