"""GraphAr `gar/v1` metadata model: YAML parsing + chunk-file path resolution.

Format knowledge comes from the public Apache GraphAr spec and the
reference's own test fixtures (`/root/reference/config/test/data/git/*.yaml`)
and usage (`src/functions/table/read_vertices.cpp:49-59` loads GraphInfo →
VertexInfo → property groups; `src/functions/table/read_edges.cpp:85-91`
picks the `ordered_by_source` vs `ordered_by_dest` adjacency layout).

Layout (all paths relative to the graph prefix = directory of the graph
YAML unless the YAML carries an absolute ``prefix``):

- vertex data:   ``{vertex.prefix}{pg.prefix}chunk{k}`` + ``{vertex.prefix}vertex_count``
- edge adj list: ``{edge.prefix}{adj.prefix}adj_list/part{i}/chunk{j}``
- edge offsets:  ``{edge.prefix}{adj.prefix}offset/chunk{i}``
- edge props:    ``{edge.prefix}{adj.prefix}{pg.prefix}part{i}/chunk{j}``
- counts:        ``{edge.prefix}{adj.prefix}vertex_count`` / ``edge_count{i}``

Chunking: row ``r`` of a vertex type lives at chunk ``r // chunk_size``,
offset ``r % chunk_size`` (reference: ``include/utils/func.hpp:68-72``).
Edge part ``i`` holds the edges whose aligned-side vertex is in vertex
chunk ``i``; offset chunk ``i`` holds ``src_chunk_size + 1`` cumulative
counts relative to the start of part ``i``.
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict
from dataclasses import dataclass, field

import yaml

from pyspark.sql import types as T

# pyarrow FileSystem.get_file_info raises ArrowException subclasses (not
# OSError) on transient object-store/credential failures; import-guarded so
# stat_token can degrade to "uncached" instead of crashing the query.
try:
    from pyarrow.lib import ArrowException as _ArrowException

    _ARROW_STAT_ERRORS: tuple[type[Exception], ...] = (_ArrowException,)
except ImportError:  # pragma: no cover - pyarrow is a hard dep in practice
    _ARROW_STAT_ERRORS = ()

# ---------------------------------------------------------------------------
# filesystem abstraction (reference parity A5: paths resolved by
# `FileSystemFromUriOrPath` incl. s3://, src/utils/func.cpp:124-148).
# URI-schemed paths (file://, s3://, gs://, hdfs://) go through pyarrow.fs;
# bare paths use the local filesystem directly.
# ---------------------------------------------------------------------------


def _fs_for(path: str):
    """(pyarrow FileSystem, fs-local path) for a URI, or (None, path).

    `file:` URIs (any slash count — Spark's catalog qualifies table
    OPTIONS paths as `file:/abs/path`) resolve to the plain local
    filesystem."""
    if path.startswith("file:"):
        local = re.sub(r"^file:/*", "/", path)
        return None, local
    if "://" not in path:
        return None, path
    from pyarrow import fs as pafs

    return pafs.FileSystem.from_uri(path)


def _read_text(path: str) -> str:
    f, p = _fs_for(path)
    if f is None:
        with open(p) as fh:
            return fh.read()
    with f.open_input_stream(p) as fh:
        return fh.read().decode()


def _path_exists(path: str) -> bool:
    f, p = _fs_for(path)
    if f is None:
        return os.path.exists(p)
    from pyarrow import fs as pafs

    return f.get_file_info(p).type != pafs.FileType.NotFound


def _list_names(directory: str) -> list[str]:
    """Base names of entries in a directory ([] if absent)."""
    f, p = _fs_for(directory)
    if f is None:
        return os.listdir(p) if os.path.isdir(p) else []
    from pyarrow import fs as pafs

    info = f.get_file_info(p)
    if info.type != pafs.FileType.Directory:
        return []
    return [os.path.basename(i.path) for i in f.get_file_info(pafs.FileSelector(p))]


def spark_url(path: str) -> str:
    """Translate a GraphAr URI into the scheme Spark's Hadoop readers
    expect (`s3://` → `s3a://`); local and file:// paths pass through."""
    if path.startswith("s3://"):
        return "s3a://" + path[len("s3://"):]
    return path


def stat_token(path: str) -> tuple | None:
    """(mtime_ns, size) freshness token for metadata caches, or None when
    the filesystem can't answer (then callers must not cache).  One stat
    call replaces re-reading + re-parsing small metadata files on every
    query — the dominant driver-side cost of a sub-100 ms point lookup
    was re-planning its own metadata, not the Spark job."""
    f, p = _fs_for(path)
    try:
        if f is None:
            st = os.stat(p)
            return (st.st_mtime_ns, st.st_size)
        from pyarrow import fs as pafs

        info = f.get_file_info(p)
        if info.type == pafs.FileType.NotFound or info.mtime_ns is None:
            return None
        return (info.mtime_ns, info.size)
    except (OSError, *_ARROW_STAT_ERRORS):
        # Transient object-store/credential failures surface as pyarrow
        # ArrowException (not OSError); both degrade to "don't cache",
        # never to a query error.
        return None

# GraphAr type -> Spark type (reference map: src/utils/func.cpp:18-40).
GRAPHAR_TO_SPARK: dict[str, T.DataType] = {
    "bool": T.BooleanType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "date": T.DateType(),
}

# Implicit column names injected by the reference (include/utils/func.hpp:20-23).
VERTEX_INDEX_COL = "_graphArVertexIndex"
SRC_INDEX_COL = "_graphArSrcIndex"
DST_INDEX_COL = "_graphArDstIndex"
DEGREE_ID_COL = "grapharId"
OFFSET_COL = "_graphArOffset"

_CHUNK_RE = re.compile(r"chunk(\d+)$")


class StatCache:
    """Bounded LRU map whose entries stay valid while every file they were
    built from keeps its `stat_token`.

    ``get(key, build)`` returns the cached value when each ``(path,
    token)`` stored with it still matches a fresh stat; otherwise it
    calls ``build() -> (value, [(path, token), ...])`` and caches the
    result unless some token is None (the filesystem could not answer).
    Every hit re-stats every file.

    ``build`` must stat each file BEFORE reading it.  Stat-after-read
    would let a rewrite land between the read and the stat, caching the
    pre-rewrite value under the post-rewrite token, which every later
    hit would then match: stale forever.  With stat-before-read a
    concurrent rewrite leaves a token that no longer matches, costing
    one extra rebuild.  Mutations are lock-guarded (Spark drivers
    legitimately plan from several threads); builds run unlocked."""

    def __init__(self, capacity: int):
        self.capacity = capacity
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, build):
        with self._lock:
            hit = self._entries.get(key)
        if hit is not None and all(stat_token(p) == t for p, t in hit[0]):
            with self._lock:
                if key in self._entries:
                    self._entries.move_to_end(key)
            return hit[1]
        value, tokens = build()
        if all(t is not None for _, t in tokens):
            with self._lock:
                self._entries[key] = (tokens, value)
                self._entries.move_to_end(key)
                while len(self._entries) > self.capacity:
                    self._entries.popitem(last=False)
        return value


# GraphInfo.load cache: abs path -> parsed GraphInfo, validated by the
# tokens of the TOP yaml AND every vertex/edge sub-yaml it pulled in, so
# an in-place edit of a sub-yaml alone still invalidates the entry.
_GRAPHINFO_CACHE = StatCache(32)


def spark_type_for(graphar_type: str) -> T.DataType:
    try:
        return GRAPHAR_TO_SPARK[graphar_type]
    except KeyError:
        raise NotImplementedError(
            f"GraphAr data type {graphar_type!r} is not supported "
            "(reference supports bool/int32/int64/float/double/string/date, "
            "src/utils/func.cpp:27)"
        ) from None


def arrow_type_for(graphar_type: str):
    """GraphAr type → Arrow type (reference twin map `graphArT2arrowT`,
    src/utils/func.cpp:30-40).  Used by the non-parquet chunk readers."""
    import pyarrow as pa

    m = {
        "bool": pa.bool_(),
        "int32": pa.int32(),
        "int64": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "date": pa.date32(),
    }
    try:
        return m[graphar_type]
    except KeyError:
        raise NotImplementedError(f"GraphAr data type {graphar_type!r} is not supported") from None


@dataclass
class Property:
    name: str
    data_type: str
    is_primary: bool = False
    is_nullable: bool = True

    @property
    def spark_type(self) -> T.DataType:
        return spark_type_for(self.data_type)


@dataclass
class PropertyGroup:
    prefix: str
    file_type: str
    properties: list[Property]

    @classmethod
    def from_dict(cls, d: dict) -> "PropertyGroup":
        props = [
            Property(
                name=p["name"],
                data_type=p["data_type"],
                is_primary=bool(p.get("is_primary", False)),
                is_nullable=bool(p.get("is_nullable", True)),
            )
            for p in d.get("properties", [])
        ]
        prefix = d.get("prefix") or ("_".join(p.name for p in props) + "/")
        return cls(prefix=prefix, file_type=d.get("file_type", "parquet"), properties=props)


@dataclass
class AdjList:
    aligned_by: str  # "src" | "dst"
    ordered: bool
    file_type: str

    @property
    def prefix(self) -> str:
        return "ordered_by_source/" if self.aligned_by == "src" else "ordered_by_dest/"


@dataclass
class VertexInfo:
    type: str
    chunk_size: int
    prefix: str
    property_groups: list[PropertyGroup]

    @classmethod
    def load(cls, path: str) -> "VertexInfo":
        d = yaml.safe_load(_read_text(path))
        return cls(
            type=d["type"],
            chunk_size=int(d["chunk_size"]),
            prefix=d.get("prefix", f"vertex/{d['type']}/"),
            property_groups=[PropertyGroup.from_dict(g) for g in d.get("property_groups", [])],
        )

    def schema(self) -> T.StructType:
        """Output schema: implicit int64 index first, then flattened props
        (reference: read_base.hpp:167-172 + read_vertices.cpp:65-68)."""
        fields = [T.StructField(VERTEX_INDEX_COL, T.LongType(), False)]
        for pg in self.property_groups:
            for p in pg.properties:
                fields.append(T.StructField(p.name, p.spark_type, p.is_nullable))
        return T.StructType(fields)


@dataclass
class EdgeInfo:
    src_type: str
    edge_type: str
    dst_type: str
    chunk_size: int
    src_chunk_size: int
    dst_chunk_size: int
    directed: bool
    prefix: str
    adj_lists: list[AdjList]
    property_groups: list[PropertyGroup] = field(default_factory=list)

    @classmethod
    def load(cls, path: str) -> "EdgeInfo":
        d = yaml.safe_load(_read_text(path))
        adj = [
            AdjList(
                aligned_by=a["aligned_by"],
                ordered=bool(a.get("ordered", True)),
                file_type=a.get("file_type", "parquet"),
            )
            for a in d.get("adj_lists", [])
        ]
        return cls(
            src_type=d["src_type"],
            edge_type=d["edge_type"],
            dst_type=d["dst_type"],
            chunk_size=int(d["chunk_size"]),
            src_chunk_size=int(d["src_chunk_size"]),
            dst_chunk_size=int(d["dst_chunk_size"]),
            directed=bool(d.get("directed", True)),
            prefix=d.get("prefix", f"edge/{d['src_type']}_{d['edge_type']}_{d['dst_type']}/"),
            adj_lists=adj,
            property_groups=[PropertyGroup.from_dict(g) for g in d.get("property_groups", [])],
        )

    @property
    def triple_name(self) -> str:
        return f"{self.src_type}_{self.edge_type}_{self.dst_type}"

    def adj_list(self, aligned_by: str) -> AdjList:
        for a in self.adj_lists:
            if a.aligned_by == aligned_by:
                return a
        raise ValueError(
            f"edge {self.triple_name} has no adjacency layout aligned by {aligned_by!r}"
        )

    def has_layout(self, aligned_by: str) -> bool:
        return any(a.aligned_by == aligned_by for a in self.adj_lists)

    def schema(self) -> T.StructType:
        """Implicit src/dst int64 indexes first, then edge props
        (reference: read_edges.cpp:29 + read_base.hpp:167-172)."""
        fields = [
            T.StructField(SRC_INDEX_COL, T.LongType(), False),
            T.StructField(DST_INDEX_COL, T.LongType(), False),
        ]
        for pg in self.property_groups:
            for p in pg.properties:
                fields.append(T.StructField(p.name, p.spark_type, p.is_nullable))
        return T.StructType(fields)


@dataclass
class GraphInfo:
    name: str
    prefix: str  # absolute directory containing the graph data
    vertices: dict[str, VertexInfo]
    edges: dict[tuple[str, str, str], EdgeInfo]

    @classmethod
    def load(cls, path: str) -> "GraphInfo":
        """Load a graph YAML (reference: graphar::GraphInfo::Load used at
        read_vertices.cpp:49-53, graphar_storage.cpp:23-27).  Accepts a
        local path or a URI (file://, s3://, …) — parity with the
        reference's `FileSystemFromUriOrPath` (src/utils/func.cpp:124-148).

        CACHED per process, validated by the (mtime_ns, size) stat
        token of EVERY yaml the parse pulled in — the top graph yaml
        AND each vertex/edge sub-yaml — so both the writer's full
        rewrite and an in-place edit of a single sub-yaml invalidate
        the entry; when the filesystem can't produce a freshness token
        for any of them the entry is not cached.  Residual staleness
        window: a rewrite that preserves every file's (mtime_ns, size)
        exactly — sub-ns timestamps make this a non-event on local
        filesystems; object stores with coarse mtimes get correctness
        from the writer's always-rewrite contract.  A point lookup
        re-planned this yaml tree (3 file reads + parses) on every
        call; now it's one stat per yaml.  Each yaml is stat'ed BEFORE
        it is read (see `StatCache` for why the order is load-bearing)."""
        if "://" not in path:
            path = os.path.abspath(path)
        return _GRAPHINFO_CACHE.get(path, lambda: cls._load_uncached(path))

    @classmethod
    def _load_uncached(
        cls, path: str
    ) -> tuple["GraphInfo", list[tuple[str, tuple | None]]]:
        """Parse the yaml tree, stat'ing each file BEFORE reading it and
        returning the pre-read (path, token) list alongside the parse."""
        tokens: list[tuple[str, tuple | None]] = [(path, stat_token(path))]
        d = yaml.safe_load(_read_text(path))
        base = d.get("prefix") or os.path.dirname(path)
        if not base.endswith("/"):
            base += "/"
        vertices: dict[str, VertexInfo] = {}
        for vfile in d.get("vertices", []) or []:
            vpath = os.path.join(os.path.dirname(path), vfile)
            tokens.append((vpath, stat_token(vpath)))
            vi = VertexInfo.load(vpath)
            vertices[vi.type] = vi
        edges: dict[tuple[str, str, str], EdgeInfo] = {}
        for efile in d.get("edges", []) or []:
            epath = os.path.join(os.path.dirname(path), efile)
            tokens.append((epath, stat_token(epath)))
            ei = EdgeInfo.load(epath)
            edges[(ei.src_type, ei.edge_type, ei.dst_type)] = ei
        gi = cls(name=d.get("name", "graph"), prefix=base, vertices=vertices, edges=edges)
        return gi, tokens

    # ---- path resolution -------------------------------------------------

    def vertex_dir(self, vi: VertexInfo, pg: PropertyGroup) -> str:
        return os.path.join(self.prefix, vi.prefix, pg.prefix)

    def vertex_count_path(self, vi: VertexInfo) -> str:
        return os.path.join(self.prefix, vi.prefix, "vertex_count")

    def adj_dir(self, ei: EdgeInfo, aligned_by: str) -> str:
        return os.path.join(self.prefix, ei.prefix, ei.adj_list(aligned_by).prefix)

    def edge_vertex_count_path(self, ei: EdgeInfo, aligned_by: str) -> str:
        return os.path.join(self.adj_dir(ei, aligned_by), "vertex_count")

    def edge_count_path(self, ei: EdgeInfo, aligned_by: str, part: int) -> str:
        return os.path.join(self.adj_dir(ei, aligned_by), f"edge_count{part}")

    # ---- metadata-answered counts (reference: src/utils/func.cpp:65-72) ---

    def vertex_count(self, vtype: str) -> int:
        return _read_count(self.vertex_count_path(self.vertices[vtype]))

    def edge_aligned_vertex_count(self, ei: EdgeInfo, aligned_by: str) -> int:
        return _read_count(self.edge_vertex_count_path(ei, aligned_by))

    def edge_count(self, ei: EdgeInfo, aligned_by: str = "src") -> int:
        """Total edges = sum of per-part edge_count files (metadata only,
        no data scan — parity with A7 in SURVEY §2)."""
        total = 0
        part = 0
        while True:
            p = self.edge_count_path(ei, aligned_by, part)
            if not _path_exists(p):
                break
            total += _read_count(p)
            part += 1
        return total


def _read_count(path: str) -> int:
    return int(_read_text(path).strip())


def chunk_index_of(path: str) -> int:
    """Parse the chunk number out of a chunk file path."""
    m = _CHUNK_RE.search(path)
    if not m:
        raise ValueError(f"not a chunk file: {path}")
    return int(m.group(1))


def list_chunks(directory: str) -> list[str]:
    """Chunk files in a directory, ordered by chunk index."""
    files = [f for f in _list_names(directory) if _CHUNK_RE.match(f)]
    files.sort(key=lambda f: int(_CHUNK_RE.match(f).group(1)))
    return [os.path.join(directory, f) for f in files]


def list_parts(directory: str) -> list[int]:
    """Part indexes under an adj_list/property directory, ordered."""
    parts = []
    for f in _list_names(directory):
        m = re.match(r"part(\d+)$", f)
        if m:
            parts.append(int(m.group(1)))
    return sorted(parts)
