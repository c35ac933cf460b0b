"""Distributed GraphAr writer round trip: DataFrame → spark_writer →
reader/catalog, cross-checked against ground-truth arrays and against the
driver-side fixture writer's output for the same graph."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tests.conftest import make_graph_arrays


@pytest.fixture(scope="module")
def dist_graph(spark, tmp_path_factory):
    from duckdb_graphar_spark.graphar.spark_writer import write_graph_dist

    n = 500
    src, dst = make_graph_arrays(n)
    # vertices 128..191 (aligned chunk 2) get no edges: a zero-degree part
    # in both layouts
    keep = ~(((src >= 128) & (src < 192)) | ((dst >= 128) & (dst < 192)))
    src, dst = src[keep], dst[keep]
    vdf = spark.createDataFrame(
        [(int(i), f"p{i}", float(i) * 0.5) for i in range(n)],
        "_graphArVertexIndex long, name string, score double",
    )
    edf = spark.createDataFrame(
        [(int(s), int(d), int(s * 1000 + d)) for s, d in zip(src, dst)],
        "_graphArSrcIndex long, _graphArDstIndex long, weight long",
    )
    out = str(tmp_path_factory.mktemp("dist_graphar"))
    gy = write_graph_dist(
        out,
        "Dist",
        {"Person": vdf},
        {("Person", "knows", "Person"): edf},
        vertex_chunk_size=64,
        edge_chunk_size=256,
        aligned_chunk_size=64,
    )
    return {"yaml": gy, "n": n, "src": src, "dst": dst, "vdf": vdf, "edf": edf}


def test_vertex_round_trip(spark, dist_graph):
    from duckdb_graphar_spark import graphar

    v = graphar.read_vertices(spark, dist_graph["yaml"], "Person")
    assert v.count() == dist_graph["n"]
    rows = v.filter("_graphArVertexIndex IN (0, 63, 64, 499)").orderBy(
        "_graphArVertexIndex"
    ).collect()
    assert [(r["_graphArVertexIndex"], r["name"], r["score"]) for r in rows] == [
        (0, "p0", 0.0),
        (63, "p63", 31.5),
        (64, "p64", 32.0),
        (499, "p499", 249.5),
    ]


def test_edge_round_trip_and_point_lookup(spark, dist_graph):
    from duckdb_graphar_spark import graphar

    e = graphar.read_edges(spark, dist_graph["yaml"], "Person", "knows", "Person")
    assert e.count() == len(dist_graph["src"])
    vid = 42
    expect = sorted(dist_graph["dst"][dist_graph["src"] == vid].tolist())
    got = [
        r["_graphArDstIndex"]
        for r in e.filter(F.col("_graphArSrcIndex") == vid)
        .orderBy("_graphArDstIndex")
        .collect()
    ]
    assert got == expect


def test_edge_properties_aligned(spark, dist_graph):
    from duckdb_graphar_spark import graphar

    e = graphar.read_edges(spark, dist_graph["yaml"], "Person", "knows", "Person")
    bad = e.filter(
        F.col("weight") != F.col("_graphArSrcIndex") * 1000 + F.col("_graphArDstIndex")
    ).count()
    assert bad == 0


def test_offsets_match_degrees(spark, dist_graph):
    from duckdb_graphar_spark.operators.graph import degrees_from_offsets

    deg = degrees_from_offsets(spark, dist_graph["yaml"], "Person", "knows", "Person")
    got = {r["grapharId"]: r["degree"] for r in deg.collect()}
    src = dist_graph["src"]
    for v in [0, 1, 42, 499]:
        assert got[v] == int((src == v).sum()), f"vertex {v}"


def test_csc_layout_round_trip(spark, dist_graph):
    """The ordered_by_dest layout must answer dst-point-lookups."""
    from duckdb_graphar_spark.graphar.reader import read_edges

    vid = 7
    e = read_edges(
        spark, dist_graph["yaml"], "Person", "knows", "Person", dst_vid=vid
    )
    expect = sorted(dist_graph["src"][dist_graph["dst"] == vid].tolist())
    got = sorted(r["_graphArSrcIndex"] for r in e.collect())
    assert got == expect


def test_matches_driver_writer(spark, tmp_path, dist_graph):
    _check_writers_match(spark, tmp_path, dist_graph, "parquet")


def test_matches_driver_writer_csv(spark, tmp_path, dist_graph):
    _check_writers_match(spark, tmp_path, dist_graph, "csv")


def _check_writers_match(spark, tmp_path, dist_graph, file_type):
    """The distributed and the in-process writer lay the same graph out
    identically: the same relative files, equal YAML documents and equal
    chunk contents, including the zero-degree part.  The written YAML
    loads back as the model the writers build, and both graphs read back
    alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import yaml

    from duckdb_graphar_spark import graphar
    from duckdb_graphar_spark.graphar import EdgeSpec, VertexSpec, write_graph, write_graph_dist
    from duckdb_graphar_spark.graphar.metadata import AdjList, EdgeInfo, Property, PropertyGroup, VertexInfo

    n, src, dst = dist_graph["n"], dist_graph["src"], dist_graph["dst"]
    dist_dir, local_dir = tmp_path / "dist", tmp_path / "local"
    gy = write_graph_dist(
        str(dist_dir),
        "G",
        {"Person": dist_graph["vdf"]},
        {("Person", "knows", "Person"): dist_graph["edf"]},
        vertex_chunk_size=64,
        edge_chunk_size=256,
        aligned_chunk_size=64,
        file_type=file_type,
    )
    vt = pa.table(
        {
            "name": pa.array([f"p{i}" for i in range(n)], pa.string()),
            "score": pa.array([i * 0.5 for i in range(n)], pa.float64()),
        }
    )
    gy2 = write_graph(
        str(local_dir),
        "G",
        {"Person": VertexSpec(vt, chunk_size=64, property_groups=[["name"], ["score"]], file_type=file_type)},
        {
            ("Person", "knows", "Person"): EdgeSpec(
                src,
                dst,
                chunk_size=256,
                src_chunk_size=64,
                dst_chunk_size=64,
                properties=pa.table({"weight": pa.array((src * 1000 + dst).astype("int64"))}),
                file_type=file_type,
            )
        },
    )

    def tree(root):
        return sorted(str(p.relative_to(root)) for p in root.rglob("*") if p.is_file())

    files = tree(dist_dir)
    assert files == tree(local_dir)
    assert "edge/Person_knows_Person/ordered_by_dest/adj_list/part2/chunk0" in files
    assert (dist_dir / "edge/Person_knows_Person/ordered_by_source/edge_count2").read_text() == "0"
    for f in files:
        a, b = dist_dir / f, local_dir / f
        if f.endswith(".yaml"):
            assert yaml.safe_load(a.read_text()) == yaml.safe_load(b.read_text()), f
        elif file_type == "parquet" and "chunk" in f:
            assert pq.read_table(a).equals(pq.read_table(b)), f
        else:
            assert a.read_bytes() == b.read_bytes(), f

    def groups(*props):
        return [PropertyGroup([Property(name, t)], file_type) for name, t in props]

    assert VertexInfo.load(str(dist_dir / "Person.vertex.yaml")) == VertexInfo(
        "Person", 64, groups(("name", "string"), ("score", "double"))
    )
    assert EdgeInfo.load(str(dist_dir / "Person_knows_Person.edge.yaml")) == EdgeInfo(
        "Person", "knows", "Person", 256, 64, 64, True,
        [AdjList("src", True, file_type), AdjList("dst", True, file_type)],
        groups(("weight", "int64")),
    )

    a = graphar.read_vertices(spark, gy, "Person")
    b = graphar.read_vertices(spark, gy2, "Person")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    ea = graphar.read_edges(spark, gy, "Person", "knows", "Person")
    eb = graphar.read_edges(spark, gy2, "Person", "knows", "Person")
    assert sorted(map(tuple, ea.collect())) == sorted(map(tuple, eb.collect()))


def _raises_in_writer(match):
    """A writer's ValueError, raised in-process or inside a Spark task."""
    from pyspark.errors import PythonException

    return pytest.raises((ValueError, PythonException), match=match)


def test_both_writers_reject_edge_id_outside_vertex_range(spark, tmp_path):
    """An edge endpoint outside [0, vertex count) fails the write in both
    writers, instead of landing in one layout only (or in a part no offset
    chunk covers)."""
    import pyarrow as pa

    from duckdb_graphar_spark.graphar import EdgeSpec, VertexSpec, write_graph, write_graph_dist

    n = 10
    src, dst = np.array([0, 1, 2, 12]), np.array([1, 2, 3, 4])
    triple = ("Person", "knows", "Person")
    with _raises_in_writer(r"edge \(12, 4\) of Person_knows_Person has an id outside"):
        write_graph(
            str(tmp_path / "local"),
            "G",
            {"Person": VertexSpec(pa.table({"name": [f"p{i}" for i in range(n)]}))},
            {triple: EdgeSpec(src, dst)},
        )
    vdf = spark.createDataFrame([(i, f"p{i}") for i in range(n)], "_graphArVertexIndex long, name string")
    edf = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "_graphArSrcIndex long, _graphArDstIndex long"
    )
    with _raises_in_writer(r"edge \(12, 4\) of Person_knows_Person has an id outside"):
        write_graph_dist(str(tmp_path / "dist"), "G", {"Person": vdf}, {triple: edf})


def test_both_writers_reject_non_dense_vertex_index(spark, tmp_path):
    """A vertex index that is not dense 0..n-1 fails the write, in the
    distributed writer and in the chunk writer `write_graph` calls,
    instead of writing vertex_count 4 over 3 readable rows."""
    import pyarrow as pa

    from duckdb_graphar_spark.graphar import write_graph_dist
    from duckdb_graphar_spark.graphar.metadata import Property, PropertyGroup, VertexInfo
    from duckdb_graphar_spark.graphar.writer import write_vertex_chunk

    index = [0, 1, 2, 5]
    vdf = spark.createDataFrame([(i, f"p{i}") for i in index], "_graphArVertexIndex long, name string")
    with _raises_in_writer("vertex index must be dense 0..3"):
        write_graph_dist(str(tmp_path / "dist"), "G", {"Person": vdf})
    vi = VertexInfo("Person", 1024, [PropertyGroup([Property("name", "string")])])
    names = pa.table({"name": [f"p{i}" for i in index]})
    with _raises_in_writer("vertex index must be dense 0..3"):
        write_vertex_chunk(str(tmp_path / "local"), vi, 0, len(index), np.array(index), names)


@pytest.mark.parametrize("file_type", ["orc", "csv"])
def test_dist_writer_multiformat(spark, tmp_path, file_type):
    """A4 on the DISTRIBUTED writer path: non-parquet chunk formats
    round-trip through the Arrow readers identically to parquet."""
    from duckdb_graphar_spark import graphar
    from duckdb_graphar_spark.graphar.spark_writer import write_graph_dist

    n = 130
    src = np.arange(n - 1, dtype=np.int64)
    dst = src + 1
    vdf = spark.createDataFrame(
        [(int(i), f"p{i}") for i in range(n)], "_graphArVertexIndex long, name string"
    )
    edf = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)],
        "_graphArSrcIndex long, _graphArDstIndex long",
    )
    gy = write_graph_dist(
        str(tmp_path),
        "Fmt",
        {"Person": vdf},
        {("Person", "knows", "Person"): edf},
        vertex_chunk_size=64,
        edge_chunk_size=64,
        aligned_chunk_size=64,
        file_type=file_type,
    )
    v = graphar.read_vertices(spark, gy, "Person")
    assert v.count() == n
    assert v.filter(F.col("_graphArVertexIndex") == 7).collect()[0].name == "p7"
    e = graphar.read_edges(spark, gy, "Person", "knows", "Person", src_vid=42)
    assert [r._graphArDstIndex for r in e.collect()] == [43]


def test_with_dense_index(spark):
    from duckdb_graphar_spark.graphar.spark_writer import with_dense_index

    df = spark.createDataFrame(
        [(k, f"row{k}") for k in [5, 3, 9, 1, 7, 0, 8, 2, 6, 4]], "k long, s string"
    ).repartition(4)
    out = with_dense_index(df, ["k"], index_col="idx").collect()
    by_idx = sorted((r["idx"], r["k"]) for r in out)
    assert [i for i, _ in by_idx] == list(range(10))
    assert [k for _, k in by_idx] == list(range(10))  # index follows key order
