"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes (100 TB):

- Exact dedup is a hash-groupBy — one shuffle on a 16-byte digest,
  map-side combinable.
- MinHash/SimHash signatures are computed with JVM-side expressions over
  the shingle array (`transform` + `aggregate`), no Python in the hot
  path; LSH banding turns all-pairs comparison into a groupBy on band
  keys, so cost is O(candidates), not O(n²).
- Candidate verification (exact Jaccard) happens only on LSH candidate
  pairs.
- Connected components over the duplicate-pair graph uses a driver
  union-find when the pair graph is small, else the graph operators'
  exact-or-raise min-label fixpoint (``graph._min_label_fixpoint`` on
  ``graph._fixpoint``, whose docstring gives the lineage-cut cadence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from duckdb_graphar_spark.operators.graph import _min_label_fixpoint

# 64-bit hashing via xxhash64 with per-permutation seeds: JVM-side,
# deterministic across runs/engines given the same seed.
_MERSENNE = (1 << 61) - 1


def normalize(text: F.Column) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def shingles(text: F.Column, k: int = 5) -> F.Column:
    """Word k-shingles (array<string>, distinct).

    k−1 chained zip_withs over the k shifted slices (cheap two-variable
    concat lambdas), not a per-index `transform` whose interpreted body
    re-slices per output shingle — see text._word_ngrams for the
    measured rationale."""
    toks = F.split(normalize(text), " ")
    n = F.size(toks)
    m = F.greatest(n - (k - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for i in range(1, k):
        acc = F.zip_with(
            acc, F.slice(toks, i + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(n >= k, F.array_distinct(acc)).otherwise(F.array(normalize(text)))


def exact_dedup(df: DataFrame, cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact content hash; adds `dup_count`."""
    digest = F.sha2(F.concat_ws("\x1f", *[F.col(c) for c in cols]), 256)
    return (
        df.withColumn("__h", digest)
        .groupBy("__h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .drop("__h")
    )


def _hash_with_seed(i: int):
    # NB: HOF lambdas must be unary — pyspark derives arity from the
    # Python signature, so bind the seed via closure, never `i=i`.
    return lambda s: F.xxhash64(s, F.lit(i))


def minhash_signature(base_hashes: F.Column, num_hashes: int = 64) -> F.Column:
    """MinHash signature (array<bigint>, length num_hashes) over a
    *materialized* array<long> of per-shingle base hashes.  Permutation
    h_i(x) = xxhash64(base_hash(x), seed=i) — the variable-length string
    is hashed ONCE (by the caller), and each of the num_hashes
    permutations re-hashes the 8-byte long, which is ~an order of
    magnitude cheaper than re-hashing strings per permutation.

    Pass a column bound to the plan via withColumn/select: the signature
    references it num_hashes times, and a raw expression would be
    re-evaluated per reference (CollapseProject only inlines cheap,
    single-reference exprs).

    Measured note (do not "optimize" this into one-permutation hashing):
    OPH — one pass binning by pmod(h, num_hashes) with per-bin mins and
    rotation densification — is the textbook way to cut num_hashes×
    hash evaluations, but Spark evaluates higher-order-function lambdas
    interpreted, per element, and the aggregate-accumulator (or
    filter-per-bin) forms cost 6-8× MORE wall-clock than these
    num_hashes flat transforms at sf0.1 (0.6-0.9 s vs 5.5-6.3 s,
    median-of-4, local[32]).  xxhash64-of-a-long inside `transform` is
    nearly free; lambda dispatch and per-step array copies are not.
    """
    return F.array(
        *[F.array_min(F.transform(base_hashes, _hash_with_seed(i))) for i in range(num_hashes)]
    )


def _shingle_df(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, shingle-array) stage shared by the dedup pipelines,
    repartitioned to full parallelism first: shingling + hashing is
    CPU-bound per row, and fixture-sized inputs often arrive as a single
    parquet split — one small shuffle of raw text buys cluster-wide
    balance for the expensive expressions downstream (also true at scale:
    text corpora skew by document length)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t")).repartition(
        parallelism, "__id"
    ).select("__id", shingles(F.col("__t"), k).alias("__sh"))


def _lsh_pairs_from_shingles(
    sh: DataFrame, *, num_hashes: int, bands: int, max_bucket: int = 256
) -> DataFrame:
    """LSH banding over a (id, shingle-array) DataFrame → candidate pairs.

    Single-shuffle shape: explode band hashes, groupBy bucket, emit the
    within-bucket pair combinations from the grouped id array.  (A
    self-join on the band key would shuffle the banded rows twice AND
    evaluate the num_hashes-permutation signature once per join side.)

    Skew guard: a degenerate bucket of B near-identical docs would emit
    B² pairs; above ``max_bucket`` ids we emit the sorted-adjacent chain
    instead (B-1 pairs) — connected components still merges the cluster,
    it just relies on consecutive pairs passing verification."""
    rows = num_hashes // bands
    staged = (
        sh.withColumn("__bh", F.transform(F.col("__sh"), lambda s: F.xxhash64(s)))
        .withColumn("__sig", minhash_signature(F.col("__bh"), num_hashes))
    )
    # one transform over the band index, not `bands` separate
    # sub-expressions — same constant-tree-size rationale as the OPH
    # signature (slice accepts a Column start since Spark 3.1)
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("__sig"), b * rows + 1, rows),
                    lambda x: x.cast("string"),
                ),
            )
        ),
    )
    banded = staged.select(
        "__id", F.posexplode(band_hashes).alias("__band", "__bandhash")
    )
    buckets = (
        banded.groupBy("__band", "__bandhash")
        .agg(F.sort_array(F.collect_list("__id")).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    ids = F.col("__ids")
    all_pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    chain_pairs = F.transform(
        F.slice(ids, 1, F.size(ids) - 1),
        lambda x, i: F.struct(x.alias("a"), F.element_at(ids, i + 2).alias("b")),
    )
    pair_col = F.when(F.size(ids) <= max_bucket, all_pairs).otherwise(chain_pairs)
    return (
        buckets.select(F.explode(pair_col).alias("__p"))
        .select(F.col("__p.a").alias("id_a"), F.col("__p.b").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding → (id_a, id_b), id_a < id_b.

    Signature is split into `bands` bands of `num_hashes/bands` rows; docs
    sharing any band hash become candidates.  The all-pairs blowup is
    bounded per band-bucket (self-join within groupBy buckets).
    """
    return _lsh_pairs_from_shingles(
        _shingle_df(df, id_col, text_col, k), num_hashes=num_hashes, bands=bands
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.7,
    _shingled: DataFrame | None = None,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard →
    (id_a, id_b, jaccard) for pairs ≥ threshold.

    `_shingled` lets the full pipeline pass an already-persisted
    (id, shingle) stage so shingling isn't recomputed per join side."""
    sh = _shingled if _shingled is not None else _shingle_df(df, id_col, text_col, k)
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sa"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sb"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = F.size(F.array_union("__sa", "__sb")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def bitmap_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    set_col: str = "shingle_set",
    threshold: float = 0.5,
    max_vocab: int = 1 << 16,
) -> DataFrame:
    """EXACT all-pairs set Jaccard → (id_a, id_b, jaccard) for pairs ≥
    threshold, with each set packed into a VOCABULARY BITMAP
    (array<long>, one bit per distinct token): intersection is
    Σ_w popcount(a_w & b_w) and union is |a| + |b| − ∩ — pure integer
    whole-stage-codegen arithmetic, ~20× cheaper per pair than
    ``array_intersect``/``array_union`` hash-set ops (the s18 Hamming
    trick applied to set similarity).

    This is the EXACT O(n²) baseline (the verification side of a
    blocking-stage entry, the ``embedding_exact_pairs`` analogue for
    sets), not the production path: the corpus bitmap side broadcasts,
    so it is for corpora/slices where n² pair enumeration is
    affordable.  At 100 TB use :func:`jaccard_similarity_join`
    (prefix-filtered, lossless) instead.  The bitmap needs a BOUNDED
    vocabulary (≤ ``max_vocab`` distinct tokens — raises above it);
    ⌈V/64⌉ longs per row.  Rows whose set is empty never pair (their
    Jaccard against anything is 0).

    Cost shape: one distinct-token scan (vocab index, broadcast back),
    one groupBy(id) to pack bitmaps, then the repartitioned
    nested-loop pair scan — the only O(n²) stage, spread across the
    cluster, touching ⌈V/64⌉ longs per pair.  The words are UNROLLED
    into flat long columns (vocab size is known driver-side), not kept
    as an array: per-pair array element access / HOF lambdas in the
    nested-loop stage run interpreted (measured 45-60 s vs 0.7 s for
    the flat-column whole-stage-codegen form on 12.5M pairs)."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(F.col(set_col))).alias("__tok"),
    )
    # the single-task window is bounded by the max_vocab guard below
    vocab = (
        toks.select("__tok")
        .distinct()
        .withColumn("__idx", F.row_number().over(Window.orderBy("__tok")) - 1)
        .persist()
    )
    v = vocab.count()
    if v > max_vocab:
        vocab.unpersist(blocking=False)
        raise ValueError(
            f"vocabulary {v} exceeds max_vocab={max_vocab}; the bitmap "
            "representation needs a bounded vocabulary — use "
            "jaccard_similarity_join (prefix-filtered) for open vocabularies"
        )
    n_words = max(1, (v + 63) // 64)
    idxs = (
        toks.join(F.broadcast(vocab), "__tok")
        .groupBy("__id")
        .agg(F.collect_set("__idx").alias("__ix"))
    )
    def word_expr(w: int) -> F.Column:
        return F.expr(
            f"aggregate(filter(__ix, i -> (i div 64) = {w}), CAST(0 AS BIGINT), "
            "(acc, i) -> acc | shiftleft(CAST(1 AS BIGINT), CAST(i % 64 AS INT)))"
        )

    bm = idxs.select(
        "__id",
        F.size("__ix").alias("__n"),
        *[word_expr(w).alias(f"__w{w}") for w in range(n_words)],
    )
    a = bm.select(
        F.col("__id").alias("id_a"),
        F.col("__n").alias("__na"),
        *[F.col(f"__w{i}").alias(f"__wa{i}") for i in range(n_words)],
    )
    b = bm.select(
        F.col("__id").alias("id_b"),
        F.col("__n").alias("__nb"),
        *[F.col(f"__w{i}").alias(f"__wb{i}") for i in range(n_words)],
    )
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    inter = None
    for i in range(n_words):
        term = F.bit_count(F.col(f"__wa{i}").bitwiseAND(F.col(f"__wb{i}")))
        inter = term if inter is None else inter + term
    return (
        a.repartition(parallelism, "id_a")
        .join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("__i", inter)
        .withColumn("__u", F.col("__na") + F.col("__nb") - F.col("__i"))
        .filter(
            (F.col("__u") > 0)
            & (F.col("__i").cast("double") / F.col("__u") >= F.lit(threshold))
        )
        .select(
            "id_a",
            "id_b",
            (F.col("__i").cast("double") / F.col("__u")).alias("jaccard"),
        )
    )


def minhash_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    threshold: float = 0.7,
    max_cc_iters: int = 20,
) -> DataFrame:
    """Full near-dup pipeline → (doc_id, cluster_id): LSH candidates →
    Jaccard verify → connected components (min-label propagation).

    The (id, shingle) stage is computed once and persisted — it feeds the
    signature/banding pass and both sides of the verification join."""
    sh = _shingle_df(df, id_col, text_col, k).persist()
    try:
        pairs = _lsh_pairs_from_shingles(sh, num_hashes=num_hashes, bands=bands)
        # CC re-references the pair set every iteration — pin it once
        verified = (
            ngram_jaccard_pairs(
                df, pairs, id_col=id_col, text_col=text_col, k=k, threshold=threshold,
                _shingled=sh,
            )
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )
        labels = connected_components(
            verified, df.select(F.col(id_col).alias("v")), max_iters=max_cc_iters
        )
        return labels.select(F.col("v").alias(id_col), F.col("label").alias("cluster_id"))
    finally:
        sh.unpersist(blocking=False)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    *,
    max_iters: int = 20,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    edges: (id_a, id_b) undirected; vertices: (v).  Returns (v, label)
    where label = min vertex id in the component.  The distributed
    path is ``graph._min_label_fixpoint`` over both orientations of
    every edge: O(log diameter) passes, each its join stages plus one
    count job, raising ValueError if ``max_iters`` passes do not
    converge.  (GraphFrames-
    style; bounded driver state.)

    Adaptive fast path (same spirit as AQE's runtime broadcast
    decision): a near-dup pair graph is tiny relative to the corpus —
    when the edge count is ≤ ``driver_threshold``, union-find on the
    collected pairs replaces O(diameter) distributed rounds with one
    collect + one broadcast join; the iterative path remains for pair
    graphs that don't fit the driver (set ``driver_threshold=0`` to
    force it).  The probe is a single limit(threshold+1) collect — when
    the limit isn't hit, the probe result IS the edge list, so the fast
    path costs one job total."""
    if driver_threshold > 0:
        probe = edges.select("id_a", "id_b").limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            return _connected_components_driver(probe, edges.sparkSession, vertices)
    sym = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("w")).unionAll(
        edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("w"))
    ).localCheckpoint(eager=True)
    # only edge-incident vertices can ever change label; isolated vertices
    # (the vast majority in a dedup pair-graph) are label=self, no iteration
    incident = (
        sym.select(F.col("u").alias("v")).distinct().join(vertices.select("v"), "v", "left_semi")
    )
    isolated = vertices.select("v").join(incident, "v", "left_anti").select(
        "v", F.col("v").alias("label")
    )
    # min-label propagation over the symmetric edge set, with the
    # pointer-doubling shortcut label(v) ← label(label(v)): O(log
    # diameter) passes, so a chain of near-dups or a spanning TREE (g31's
    # forest) converges.  Silent partial labels would corrupt every
    # downstream consumer (a Borůvka round would pick an intra-component
    # edge and build a CYCLE) — exact-or-raise, the g24 SCC discipline
    labels = _min_label_fixpoint(
        sym,
        incident.select("v", F.col("v").alias("lab")),
        max_iters=max_iters,
        error=ValueError(
            f"connected_components did not converge in {max_iters} "
            "iterations; raise max_iters"
        ),
    )
    return labels.select("v", F.col("lab").alias("label")).unionAll(isolated)


def _connected_components_driver(pairs, spark, vertices: DataFrame) -> DataFrame:
    """Union-find over already-collected pairs; labels broadcast-joined
    back onto the (distributed) vertex set.  Driver memory is
    O(edge-incident vertices), bounded by the caller's threshold."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-id root so labels match the distributed algorithm
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    rows = [(x, find(x)) for x in parent]
    vtype = vertices.schema["v"].dataType
    if rows:
        labels = spark.createDataFrame(
            rows,
            T.StructType(
                [T.StructField("v", vtype), T.StructField("__lbl", vtype)]
            ),
        )
        out = vertices.join(F.broadcast(labels), "v", "left")
    else:
        out = vertices.withColumn("__lbl", F.lit(None).cast(vtype))
    return out.select("v", F.coalesce(F.col("__lbl"), F.col("v")).alias("label"))


def simhash(hashes: F.Column, bits: int = 64) -> F.Column:
    """SimHash (bigint) from a *materialized* array<long> of per-shingle
    hashes: for each bit b, sum ±1 over shingles by bit b; the
    fingerprint bit is 1 where the sum is positive.  One `aggregate` per
    bit over the bound hash column — cheap long ops, JVM-side.
    """

    def bit_term(b: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    result = F.lit(0).cast("long")
    for b in range(bits):
        cnt = F.aggregate(hashes, F.lit(0), bit_term(b))
        result = result.bitwiseOR(
            F.when(cnt > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return result


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    k: int = 2,
    blocks: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash with block-permutation candidate search:
    split the fingerprint into `blocks` blocks; by pigeonhole, any pair
    within `max_hamming ≤ blocks-1` shares one exact block → equi-join per
    block, then verify Hamming distance.

    ``max_bucket_size`` is the 100 TB escape hatch: each (block, value)
    bucket is collected into ONE array row and pair-expanded in one
    task, so a hot block value (a boilerplate prefix, near-empty docs)
    is Σ|bucket|² work AND a single-task memory spike.  With the cap,
    over-cap buckets are deterministically sub-split into contiguous
    slices of ≤ cap members, ordered by (fingerprint, id) — fingerprint
    order keeps Hamming-close members adjacent, so most true pairs stay
    within a slice; pairs whose ONLY shared block lands them in
    different slices of the same hot bucket are missed (the documented
    recall trade — a pair within max_hamming ≤ blocks-1 shares a block
    per pigeonhole, and usually several).  Work drops to
    O(Σ|bucket|²/cap) and no task materializes more than ``cap``
    (id, fingerprint) structs."""
    width = bits // blocks
    sh = (
        _shingle_df(df, id_col, text_col, k)
        .withColumn("__hashes", F.transform(F.col("__sh"), lambda s: F.xxhash64(s)))
        .withColumn("__f", simhash(F.col("__hashes"), bits))
        .select("__id", "__f")
    )
    block_vals = F.array(
        *[
            F.shiftright(F.col("__f"), b * width).bitwiseAND(F.lit((1 << width) - 1))
            for b in range(blocks)
        ]
    )
    blocked = sh.select(
        "__id", "__f", F.posexplode(block_vals).alias("__blk", "__bv")
    )
    group_keys = ["__blk", "__bv"]
    if max_bucket_size is not None:
        if max_bucket_size < 2:
            raise ValueError("max_bucket_size must be >= 2")
        from pyspark.sql import Window

        # contiguous ≤cap slices by (fingerprint, id) within each bucket:
        # a window sort streams the hot bucket (spillable sort, no array
        # materialization) where the uncapped collect_list would build
        # one |bucket|-sized row
        wr = Window.partitionBy("__blk", "__bv").orderBy("__f", "__id")
        blocked = blocked.withColumn(
            "__sub",
            F.floor((F.row_number().over(wr) - 1) / F.lit(max_bucket_size)),
        )
        group_keys = ["__blk", "__bv", "__sub"]
    # single-shuffle bucket grouping (a self-join would evaluate the
    # 64-aggregate fingerprint once per side and shuffle twice); pairs are
    # generated from the grouped (id, fingerprint) array per bucket
    buckets = (
        blocked.groupBy(*group_keys)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__id").alias("i"), F.col("__f").alias("f")))
            ).alias("__m")
        )
        .filter(F.size("__m") > 1)
    )
    m = F.col("__m")
    pair_col = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.size(m)),
                lambda y: F.struct(
                    x.getField("i").alias("a"),
                    y.getField("i").alias("b"),
                    F.bit_count(x.getField("f").bitwiseXOR(y.getField("f"))).alias("h"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_col).alias("__p"))
        .filter(F.col("__p.h") <= max_hamming)
        .select(
            F.col("__p.a").alias("id_a"),
            F.col("__p.b").alias("id_b"),
            F.col("__p.h").alias("hamming"),
        )
        .distinct()
    )


def embedding_exact_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT embedding near-dup pairs: all (id_a < id_b) pairs with
    cosine ≥ threshold → (id_a, id_b, cosine).

    O(n²) scoring — the oracle-checkable baseline for
    `embedding_near_dup_pairs` (which prunes candidates with
    hyperplane-LSH buckets and trades recall for scale)."""
    from duckdb_graphar_spark.operators.similarity import dot, norm

    # spread the O(n²) scoring across the cluster: the left side is
    # repartitioned so the nested-loop join runs one task per split
    # (single-file inputs otherwise score every pair in one task);
    # norms are computed once per row, not once per pair
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    a = (
        df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        .repartition(parallelism, "id_a")
        .withColumn("__na", norm(F.col("__va")))
    )
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")).withColumn(
        "__nb", norm(F.col("__vb"))
    )
    denom = F.col("__na") * F.col("__nb")
    sim = F.when(denom > 0, dot(F.col("__va"), F.col("__vb")) / denom).otherwise(F.lit(0.0))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(sim, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
    n_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, bucketed by
    random-hyperplane LSH so only same-bucket pairs are compared."""
    from duckdb_graphar_spark.operators.similarity import cosine, hyperplane_bucket

    b = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        hyperplane_bucket(F.col(vec_col), n_planes=n_planes, seed=seed).alias("__bkt"),
    )
    o = b.select(F.col("__id").alias("__id2"), F.col("__v").alias("__v2"), "__bkt")
    sim = cosine(F.col("__v"), F.col("__v2"))
    return (
        b.join(o, "__bkt")
        .filter(F.col("__id") < F.col("__id2"))
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select(F.col("__id").alias("id_a"), F.col("__id2").alias("id_b"), "cosine")
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
    threshold: float = 0.6,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle-set containment
    c(a→b) = |A∩B| / |A| — the signal Jaccard misses when a short
    document is wholly embedded in a long one (quote farms, boilerplate
    wrappers, prompt-in-completion leaks): Jaccard divides by the UNION,
    so a 50-token doc inside a 5000-token doc scores ≈0.01 while its
    containment is 1.0.

    Returns ordered pairs (id_a, id_b, containment) with containment of
    id_a's shingles in id_b ≥ threshold, both directions emitted
    independently.

    ``candidates`` (id_a, id_b ordered pairs) restricts the verify join —
    at scale feed :func:`minhash_lsh_pairs` (banding bounds candidate
    count; containment verify is one array_intersect per candidate).
    ``None`` runs the exhaustive self-join — the oracle-mirrorable
    verifier, same role as t07's exhaustive Jaccard."""
    sh = _shingle_df(df, id_col, text_col, k)
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sa"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sb"))
    if candidates is None:
        joined = a.join(b, F.col("id_a") != F.col("id_b"))
    else:
        both = candidates.unionAll(
            candidates.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        ).distinct()
        joined = both.join(a, "id_a").join(b, "id_b")
    na = F.size("__sa").cast("double")
    cont = F.when(
        na > 0, F.size(F.array_intersect("__sa", "__sb")).cast("double") / na
    ).otherwise(F.lit(0.0))
    return (
        joined.withColumn("containment", F.round(cont, 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def canonical_keep_best(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Exact dedup after text canonicalization, keep-BEST policy →
    one row per canonical form: (canon_sha, keeper_id, n_dups,
    best_quality).

    Canonicalization (lowercase, non-alphanumerics → space, collapse
    runs, trim) merges the near-identical variants exact dedup misses —
    case/punctuation/whitespace edits, the most common crawl-dup shape.
    Unlike `exact_dedup`'s keep-first, the keeper is the HIGHEST
    ``quality_col`` (ties → smallest id): crawl pipelines keep the
    longest/cleanest capture, not the first-seen one.

    Scale shape: the keeper pick is ONE map-combinable aggregate —
    ``max(struct(quality, -id))`` — over a single sha-keyed shuffle
    that carries (sha, quality, id) triples, never the text.  No
    window, no keep-first row_number sort."""
    canon = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    return (
        df.select(
            F.sha2(canon, 256).alias("canon_sha"),
            F.col(quality_col).cast("long").alias("__q"),
            F.col(id_col).alias("__id"),
        )
        .groupBy("canon_sha")
        .agg(
            F.max(F.struct(F.col("__q"), (-F.col("__id")).alias("__ni"))).alias("__m"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            "canon_sha",
            (-F.col("__m.__ni")).alias("keeper_id"),
            (F.col("n_docs") - 1).alias("n_dups"),
            F.col("__m.__q").alias("best_quality"),
        )
    )


def fuzzy_word_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    max_dist: int = 1,
    min_len: int = 3,
) -> DataFrame:
    """Typo-pair mining over the corpus vocabulary: all DISTINCT word
    pairs within Levenshtein distance ``max_dist`` → (w1, w2, dist, c1,
    c2) with w1 < w2 — the spell-normalization primitive corpus
    cleaning runs before frequency-based filters (a typo's count hides
    its canonical form's true frequency).

    Scale shape — never all-pairs: the left side EXPLODES its length
    band (2·max_dist+1 candidate lengths per word) so the self-join is
    a pure equi-join on (first char, exact length) — the shuffle keys
    on the full (char, length) product instead of ~26 first-char hot
    partitions, and the exact distance filter runs ONLY on candidates,
    JVM-side (`levenshtein` is codegen'd).  The block is sound for
    distance ≤ max_dist ONLY when the first character matches — an
    edit at position 0 escapes it, the standard first-letter-blocking
    recall tradeoff (documented; add a last-char pass for full
    recall).  Words shorter than ``min_len`` are excluded (every 1-2
    char pair is within distance 1 of something; pure noise).
    """
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1")
    words = (
        df.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("__w"))
        .filter((F.col("__w") != "") & (F.length("__w") >= min_len))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    band = F.sequence(
        F.length("__w") - max_dist, F.length("__w") + max_dist
    )
    a = words.select(
        F.col("__w").alias("w1"),
        F.col("__c").alias("c1"),
        F.substring("__w", 1, 1).alias("__k1"),
        F.explode(band).alias("__cl"),
    )
    b = words.select(
        F.col("__w").alias("w2"),
        F.col("__c").alias("c2"),
        F.substring("__w", 1, 1).alias("__k2"),
        F.length("__w").alias("__l2"),
    )
    cand = a.join(
        b,
        (F.col("__k1") == F.col("__k2"))
        & (F.col("__cl") == F.col("__l2"))
        & (F.col("w1") < F.col("w2")),
    )
    return (
        cand.withColumn("dist", F.levenshtein("w1", "w2").cast("long"))
        .filter(F.col("dist") <= max_dist)
        .select(
            "w1",
            "w2",
            "dist",
            F.col("c1").cast("long").alias("c1"),
            F.col("c2").cast("long").alias("c2"),
        )
    )


def jaccard_similarity_join(
    df: DataFrame,
    *,
    threshold_num: int = 95,
    threshold_den: int = 100,
    shingle_len: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-set Jaccard similarity JOIN with PREFIX FILTERING
    (the PPJoin/AllPairs candidate-pruning family) → (doc_a, doc_b,
    n_common, size_a, size_b, jaccard) for every pair with
    J(a, b) ≥ threshold_num/threshold_den, doc_a < doc_b.

    The naive all-pairs plan self-joins the FULL posting lists — every
    stopword token fans out n_docs² candidate rows, which at 100 TB is
    the whole job.  Prefix filtering is the lossless prune: order each
    document's distinct tokens by GLOBAL RARITY (document frequency
    asc, token asc) and join only each document's first
    |S| − ⌈τ·|S|⌉ + 1 tokens (its "prefix" — the rarest ones).  If
    J(x,y) ≥ τ then the globally-smallest common token provably lies in
    BOTH prefixes (if it sat in x's suffix, ALL common tokens would —
    but the suffix holds only ⌈τ|x|⌉−1 tokens < the ⌈τ|x|⌉ the
    threshold forces), so no qualifying pair is missed while hot
    stopwords (max df ⇒ always in suffixes) NEVER become join keys.

    Exactness discipline: the threshold is a RATIONAL num/den and every
    pruning decision is integer arithmetic — prefix length via
    ⌈num·n/den⌉ = (num·n + den − 1) DIV den (a float ceil rounds
    τ·n = integer cases the wrong way and silently shortens the
    prefix), size filter num·max(na,nb) ≤ den·min(na,nb), final
    verification i·den ≥ num·(na + nb − i).  The reported ``jaccard``
    is the one double (i / union, rounded 6) and never gates anything.

    Scale shape: df-counts and the verification count are
    map-combinable; the candidate self-join runs over prefix tokens
    only; verification joins each candidate pair against one side's
    token list (≤ |S| rows per pair) then intersects by one counted
    join — no step materializes an unpruned cross product."""
    from pyspark.sql import Window

    if threshold_num <= 0 or threshold_den <= 0 or threshold_num > threshold_den:
        raise ValueError("threshold must be a rational in (0, 1]")
    if shingle_len is not None and shingle_len < 1:
        raise ValueError("shingle_len must be >= 1")
    if shingle_len:
        # character k-shingles: the representation that keeps prefix
        # filtering effective even when the WORD vocabulary is tiny —
        # shingle vocabularies are Zipf-ish on any input, so document-
        # frequency ordering discriminates (the fixture's 31-word
        # vocabulary makes every word a stopword and word-level
        # prefixes fan out quadratically; measured 13M candidate pairs
        # at sf0.1 vs ~8k with 8-shingles)
        positions = F.when(
            F.length(text_col) >= shingle_len,
            F.sequence(F.lit(1), F.length(text_col) - (shingle_len - 1)),
        ).otherwise(F.array().cast("array<int>"))
        tok_expr = F.explode(
            F.transform(
                positions,
                lambda i: F.col(text_col).substr(i, F.lit(shingle_len)),
            )
        )
    else:
        tok_expr = F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
    # the explicit isnotnull(__id) is constraint unification, not
    # semantics (ids are non-null by source contract): the candidate
    # join infers it on ITS tok branches, and a join-inferred
    # constraint present in one branch makes the shared distinct
    # subtree canonically unequal — silently defeating exchange reuse
    # and re-scanning the corpus (the r12 t13/t15/t20/t27 class; the
    # tok != '' filter already unifies isnotnull(tok) everywhere)
    tok = (
        df.select(F.col(id_col).alias("__id"), tok_expr.alias("tok"))
        .filter(F.col("tok") != "")
        .filter(F.col("__id").isNotNull())
        .distinct()
    )
    sz = tok.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    wdoc = Window.partitionBy("__id").orderBy("__df", "tok")
    pos = (
        tok.join(dfreq, "tok")
        .withColumn("__pos", F.row_number().over(wdoc))
        .join(sz, "__id")
    )
    ceil_tn = F.expr(
        f"(__n * {threshold_num} + {threshold_den - 1}) DIV {threshold_den}"
    )
    prefix = pos.filter(F.col("__pos") <= F.col("__n") - ceil_tn + 1).select(
        "__id", "tok"
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(F.col("a.__id").alias("da"), F.col("b.__id").alias("db"))
        .distinct()
        .join(sz.select(F.col("__id").alias("da"), F.col("__n").alias("na")), "da")
        .join(sz.select(F.col("__id").alias("db"), F.col("__n").alias("nb")), "db")
        .filter(
            F.greatest("na", "nb") * threshold_num
            <= F.least("na", "nb") * threshold_den
        )
    )
    inter = (
        cand.join(tok.select(F.col("__id").alias("da"), "tok"), "da")
        .join(tok.select(F.col("__id").alias("db"), "tok"), ["db", "tok"])
        .groupBy("da", "db", "na", "nb")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    union = F.col("na") + F.col("nb") - F.col("__i")
    return inter.filter(
        F.col("__i") * threshold_den >= F.lit(threshold_num) * union
    ).select(
        F.col("da").alias("doc_a"),
        F.col("db").alias("doc_b"),
        F.col("__i").cast("long").alias("n_common"),
        F.col("na").cast("long").alias("size_a"),
        F.col("nb").cast("long").alias("size_b"),
        F.round(F.col("__i").cast("double") / union, 6).alias("jaccard"),
    )


def cluster_split(
    df: DataFrame,
    pairs: DataFrame,
    *,
    train_pct: int = 80,
    seed: str = "split0",
    id_col: str = "doc_id",
) -> DataFrame:
    """LEAKAGE-FREE train/test split: assign each document's whole
    near-dup CLUSTER to one side → (doc_id, cluster_rep, split).  The
    standard hash split (t17) leaks when near-duplicates straddle the
    boundary — the model sees the test answer's twin in training — so
    the split key must be the cluster representative, not the doc:
    rep = min-id of the document's connected component in the
    ``pairs`` graph (its own id when unpaired), side =
    md5(seed ‖ rep) mod 100 < train_pct — the same content-addressed
    discipline as t17/t36, SQL-replayable, and constant within a
    cluster BY CONSTRUCTION.

    Scale shape: components over the (tiny) pair graph, one broadcast-
    friendly left join back onto the corpus, a row-local hash — the
    corpus is never shuffled by content."""
    if not 0 < train_pct < 100:
        raise ValueError("train_pct must be in (0, 100)")
    verts = (
        pairs.select(F.col("id_a").alias("v"))
        .unionAll(pairs.select(F.col("id_b").alias("v")))
        .distinct()
    )
    cc = connected_components(pairs, verts).select(
        F.col("v").alias(id_col), F.col("label").alias("__rep")
    )
    rep = F.coalesce(F.col("__rep"), F.col(id_col))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("\x1f", F.lit(seed), rep.cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        df.select(id_col)
        .join(cc, id_col, "left")
        .select(
            F.col(id_col),
            rep.alias("cluster_rep"),
            F.when(bucket < train_pct, F.lit("train"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )
