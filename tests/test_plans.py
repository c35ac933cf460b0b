"""Physical-plan assertions: the 100 TB scale contract.

Correctness tests (test_oracle.py) prove the answers are right at small
SF; these tests prove the *plans* are the ones that survive a 1000×
scale-up — filters and projections reach the parquet scan, small
dimensions broadcast instead of shuffling the fact side, aggregates
combine map-side, top-k never global-sorts, GraphAr point lookups prune
chunk partitions at planning time, and no row-at-a-time Python sneaks
into a hot path (reference parity: projection/filter pushdown flags at
`src/functions/table/read_vertices.cpp:124-125`, CSR seek
`src/functions/table/read_edges.cpp:114-153`).
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_DIR


def _plan(df) -> str:
    """Executed (pre-adaptive) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    import __spark_entry__ as e

    return e.queries()


def test_filter_and_projection_reach_parquet_scan(spark):
    """q02-style scan: predicate in PushedFilters, pruned ReadSchema."""
    from duckdb_graphar_spark.tables import load_table

    df = (
        load_table(spark, SF_DIR, "lineitem")
        .filter("l_quantity < 24")
        .select("l_orderkey", "l_extendedprice")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "LessThan(l_quantity" in plan
    # ReadSchema must include the filter+projection columns and nothing more
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_small_dim_joins_broadcast(spark, qs):
    """q05 joins lineitem→orders→customer→nation→region: every dim side
    must broadcast (no shuffle of the fact table for dim joins)."""
    plan = _plan(qs["q05_revenue_by_nation"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # nation/region are tiny: they must never drive a SortMergeJoin
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "nation" not in line and "region" not in line


def test_aggregation_is_partial(spark, qs):
    """groupBy aggregates must map-side combine (partial_ before the
    exchange) — at 100 TB the shuffle carries group summaries, not rows."""
    plan = _plan(qs["q01_pricing_summary"](spark, SF_DIR))
    assert "partial_" in plan and "Exchange" in plan
    # the partial aggregate must sit BELOW the exchange (plan prints
    # top-down: final agg, exchange, partial agg, scan)
    assert plan.index("partial_") > plan.index("Exchange")


def test_topk_avoids_global_sort(spark, qs):
    """ORDER BY … LIMIT k plans as TakeOrderedAndProject: per-partition
    top-k then driver merge of k·P rows — never a full global sort."""
    plan = _plan(qs["q03_topk_orders"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_graphar_point_lookup_prunes_partitions(spark, tmp_path, graph_fixture):
    """Equality on _graphArSrcIndex must prune chunk partitions at
    planning time (CSR-offset seek parity) — the pruned scan reads a
    bounded number of input partitions regardless of graph size."""
    yaml_path = graph_fixture["yaml"]
    from duckdb_graphar_spark.graphar.datasource import register

    register(spark)
    full = (
        spark.read.format("graphar")
        .option("path", yaml_path)
        .option("src", "Person")
        .option("edge", "knows")
        .option("dst", "Person")
        .load()
    )
    pruned = full.filter("_graphArSrcIndex = 42")
    n_full = full.rdd.getNumPartitions()
    n_pruned = pruned.rdd.getNumPartitions()
    assert n_full > 2, "fixture too small to demonstrate pruning"
    assert n_pruned <= 2, f"point lookup scanned {n_pruned}/{n_full} partitions"

    # the helper reader reads the same plan: the lookup opens at most the
    # two adjacency chunks its row range can span
    from duckdb_graphar_spark.graphar import read_edges

    def adj_files(**point):
        df = read_edges(spark, yaml_path, "Person", "knows", "Person", **point)
        return [f for f in df.inputFiles() if "/adj_list/" in f]

    assert len(adj_files()) > 2
    assert 1 <= len(adj_files(src_vid=42)) <= 2


def test_sessionize_capped_folds_the_window_output_unshuffled(spark, qs):
    """q93's per-user fold needs each partition sorted with users
    contiguous, which it gets only from the window's own user exchange
    and sort: no Exchange may sit between the Window and the
    MapInPandas that folds its output."""
    lines = _plan(qs["q93_capped_sessionization"](spark, SF_DIR)).splitlines()
    fold = next(i for i, line in enumerate(lines) if "MapInPandas" in line)
    window = next(i for i, line in enumerate(lines) if i > fold and " Window " in line)
    assert not any("Exchange" in line for line in lines[fold:window]), "\n".join(lines)
    below = next(line for line in lines[window:] if "Exchange" in line)
    assert "hashpartitioning(user_id" in below, below


def test_hot_paths_have_no_row_at_a_time_python(spark, qs):
    """Dedup / text / similarity pipelines stay JVM-side (or Arrow-batched
    for the declared UDF-surface ops): BatchEvalPython (pickled row loop)
    must not appear anywhere."""
    for name in [
        "t01_token_counts",
        "t04_exact_dedup",
        "t08_quality_score",
        "s01_topk_cosine",
        "d01_embedding_neardup",
        "g02_degrees",
    ]:
        plan = _plan(qs[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM fast path"


def test_exact_dedup_single_shuffle(spark, qs):
    """Exact dedup = one shuffle on the digest; a second exchange would
    mean the plan re-partitions needlessly."""
    plan = _plan(qs["t04_exact_dedup"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_semi_join_for_membership(spark, qs):
    """q07 EXISTS-membership must plan as a (broadcast) semi join, never
    materializing the inner side per row."""
    plan = _plan(qs["q07_semi_join"](spark, SF_DIR))
    assert "LeftSemi" in plan


def test_whole_stage_codegen_covers_expressions(spark, qs):
    """Expression-heavy relational queries must run inside
    WholeStageCodegen spans."""
    plan = _plan(qs["q19_string_funcs"](spark, SF_DIR))
    # `*(n)` node prefixes mark WholeStageCodegen spans in toString()
    assert "*(1)" in plan


def test_tpch_topk_over_join_plans_take_ordered(spark, qs):
    """q39 (Q10 shape): top-20 over a 4-way join + agg must plan as
    TakeOrderedAndProject with nation broadcast — a global sort of the
    aggregated customer set would shuffle all groups to one stage."""
    plan = _plan(qs["q39_returned_items"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_disjunctive_predicate_partially_pushed(spark, qs):
    """q42 (Q19 shape): from the OR-of-ANDs, the single-side conjuncts
    (p_brand IN (...), l_quantity range) must be extracted below the
    join so each scan prunes before joining."""
    opt = _optimized(qs["q42_disjunctive_pushdown"](spark, SF_DIR))
    # Catalyst's extraction rewrites the filter so each side carries its
    # own IN/range conjunct below the join node
    join_pos = opt.index("Join")
    assert "p_brand" in opt[join_pos:], "part-side conjunct missing below join"
    assert "l_quantity" in opt[join_pos:], "lineitem-side conjunct missing below join"


def test_exists_with_range_condition_plans_semi_join(spark, qs):
    """q37 (Q4 shape): correlated EXISTS decorrelates to a LeftSemi join,
    never a per-row subquery."""
    plan = _plan(qs["q37_priority_exists"](spark, SF_DIR))
    assert "LeftSemi" in plan


def test_not_exists_plans_anti_join(spark, qs):
    """q44 (Q22 shape): NOT EXISTS decorrelates to a LeftAnti join."""
    plan = _plan(qs["q44_quiet_rich_customers"](spark, SF_DIR))
    assert "LeftAnti" in plan


def test_decontamination_broadcasts_eval_grams(spark, qs):
    """t16: the eval-gram set must be the broadcast side (map-side join
    on the 100 TB corpus gram table), and the corpus grams must be
    exploded/shuffled exactly once (single per-doc aggregate pass)."""
    plan = _plan(qs["t16_decontamination"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # one corpus-gram shuffle: exactly one Exchange hashpartitioning(__id
    assert plan.count("hashpartitioning(__id") == 1


def test_pack_offsets_window_is_partitioned(spark, qs):
    """t17: the prefix-sum window must partition by bucket (parallel),
    never collapse to a single-partition global window."""
    plan = _plan(qs["t17_pack_offsets"](spark, SF_DIR))
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(__bucket" in plan


def test_interval_join_avoids_nested_loop(spark, qs):
    """q53: bucket decomposition must plan an equi-join, not the
    BroadcastNestedLoopJoin Spark gives a raw BETWEEN join."""
    plan = _plan(qs["q53_interval_join"](spark, SF_DIR))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_quantize_stats_is_single_pass(spark, qs):
    """s04: per-vector quantization QA is a pure projection — no
    Exchange, no Python eval; the whole thing maps over scan splits.
    (Built on an UNwidened scan: load_table's conditional repartition of
    degenerate single-row-group fixtures is the one Exchange allowed in
    the declared entry, and it's absent on real multi-split data.)"""
    from duckdb_graphar_spark.operators.embeddings import quantize_int8_stats
    from duckdb_graphar_spark.tables import load_table

    raw = load_table(spark, SF_DIR, "embeddings", widen=False)
    plan = _plan(quantize_int8_stats(raw))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lm_fluency_aggregates_before_join(spark, qs):
    """t19: the transition-probability table must come from aggregated
    gram counts (partial_ map-side combine) and join back as an
    equi-join — never a nested loop over the corpus."""
    plan = _plan(qs["t19_lm_fluency"](spark, SF_DIR))
    assert "partial_" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_tfidf_windows_by_doc(spark, qs):
    """t20: doc lengths and doc frequencies derive from the aggregated
    (doc, term) table via equi-joins; the only nested-loop join allowed
    is the broadcast of the 1-row corpus count; top-k ranks inside a
    per-doc window partition."""
    plan = _plan(qs["t20_tfidf_terms"](spark, SF_DIR))
    for line in plan.splitlines():
        if "NestedLoop" in line or "CartesianProduct" in line:
            assert "BroadcastNestedLoopJoin" in line, line
    assert "windowspecdefinition(__id" in plan
    assert "partial_" in plan


def test_scd2_single_exchange(spark, qs):
    """q59: both gaps-and-islands windows and the collapse groupBy must
    share ONE user-hash exchange (built on an unwidened scan; the
    declared entry's conditional widen adds its round-robin)."""
    from duckdb_graphar_spark.operators.events import scd2_intervals
    from duckdb_graphar_spark.tables import load_table

    raw = load_table(spark, SF_DIR, "events", widen=False)
    plan = _plan(scd2_intervals(raw))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_funnel_single_exchange_no_python(spark, qs):
    """q58: the fold form exists to scan the log once — one
    groupBy(user) exchange, no per-stage re-joins, no Python eval."""
    from duckdb_graphar_spark.operators.events import funnel
    from duckdb_graphar_spark.tables import load_table

    raw = load_table(spark, SF_DIR, "events", widen=False)
    plan = _plan(funnel(raw, ["view", "click", "purchase"]))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_heavy_hitters_shuffles_candidates_only(spark, qs):
    """t26: the exact recount must reach the groupBy THROUGH the
    broadcast left-semi candidate filter (the corpus-wide token shuffle
    the operator exists to avoid would show as the exploded scan feeding
    an exchange directly), and the threshold n attaches by broadcast."""
    plan = _plan(qs["t26_heavy_hitters"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # candidate generation is the single allowed Python stage
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") <= 1


def test_pq_encode_is_projection(spark):
    """s09: PQ encode is shuffle-free — codebooks are literals, no
    Exchange, no Python."""
    from duckdb_graphar_spark.operators.embeddings import pq_encode, seed_centroids
    from duckdb_graphar_spark.tables import load_table

    raw = load_table(spark, SF_DIR, "embeddings", widen=False)
    seeds = seed_centroids(raw, 8)
    books = [[(i, v[j * 16 : (j + 1) * 16]) for i, v in seeds] for j in range(4)]
    plan = _plan(pq_encode(raw, books))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sssp_iteration_is_join_plus_partial_min(spark):
    """g13: each relaxation must plan a SHUFFLED equi-join when the
    planner can't size-broadcast (a 100×-scale distance table past the
    broadcast limit must degrade to shuffle, not fail — so the operator
    may not carry a broadcast HINT) plus a map-combinable MIN.  On the
    fixture Catalyst size-broadcasts the small distance side on its own;
    that's the adaptive behavior we WANT, so the pin disables the
    threshold to expose what the plan does when broadcasting is off the
    table.  (Iteration 1 folds the single-row literal seed into an
    e.src = 0 filter — no join at all — which is optimal.)"""
    from duckdb_graphar_spark.operators.graph import sssp

    e = spark.range(1000).selectExpr(
        "id AS src", "(id * 7 + 3) % 1000 AS dst", "1 + id % 5 AS w"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(sssp(e, 0, n_iters=2, src_col="src", dst_col="dst"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "partial_min" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Broadcast" not in plan


def test_bm25_topk_never_global_sorts(spark, qs):
    """t28: the final top-k must be TakeOrderedAndProject (never a
    global Sort of all scored docs), scoring stays JVM-side, and the
    doc-length side is a projection (size(split)) — no second corpus
    aggregation for lengths."""
    plan = _plan(qs["t28_bm25_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_exact_quantiles_window_is_bucketed(spark):
    """q60: the rank cumsum must be a PER-BUCKET window (partitionBy
    __bucket), never the single-task unpartitioned window the naive
    exact quantile plans; no Python anywhere."""
    from duckdb_graphar_spark.operators.quantiles import exact_quantiles
    from duckdb_graphar_spark.tables import load_table

    raw = load_table(spark, SF_DIR, "lineitem", widen=False)
    plan = _plan(exact_quantiles(raw, "l_extendedprice", [0.5], n_buckets=8))
    assert "windowspecdefinition(__bucket" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_table_stats_expand_only_when_exact(spark):
    """q61: exact multi-column ndv plans an Expand (the documented
    (k+1)× replication); the approx path must NOT — HLL partials are
    plain map-combinable aggregation, which is the 100 TB knob."""
    from duckdb_graphar_spark.operators.stats import table_stats
    from duckdb_graphar_spark.tables import load_table

    raw = load_table(spark, SF_DIR, "lineitem", widen=False)
    cols = ["l_quantity", "l_discount"]
    assert "Expand" in _plan(table_stats(raw, cols))
    assert "Expand" not in _plan(table_stats(raw, cols, exact_ndv=False))


def test_apply_changes_no_window_sort(spark):
    """q62: latest-per-key must be the map-combinable max_by aggregate
    — no Window over the change feed — and the merge is one full-outer
    join; no Python."""
    from duckdb_graphar_spark.operators.cdc import apply_changes
    from duckdb_graphar_spark.tables import load_table

    snap = load_table(spark, SF_DIR, "customer", widen=False).selectExpr(
        "c_custkey", "c_acctbal as acctbal"
    )
    from pyspark.sql import functions as F

    ch = load_table(spark, SF_DIR, "orders", widen=False).select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        (F.col("o_orderstatus") == "P").alias("is_del"),
        F.col("o_totalprice").alias("acctbal"),
    )
    plan = _plan(
        apply_changes(snap, ch, key_col="c_custkey", seq_col="seq",
                      delete_col="is_del", payload_cols=["acctbal"])
    )
    assert "Window" not in plan
    assert "FullOuter" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_label_propagation_argmax_without_window(spark):
    """g15: the per-vertex label argmax must be the max(struct)
    aggregate — a Window here would sort every vertex's neighbor-label
    counts instead of combining them map-side."""
    from duckdb_graphar_spark.operators.graph import label_propagation
    from pyspark.sql import functions as F

    e = spark.range(100).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 100).alias("dst")
    )
    plan = _plan(label_propagation(e, n_iters=1, src_col="src", dst_col="dst"))
    assert "Window" not in plan


def test_keep_best_dedup_single_exchange_no_window(spark):
    """d05: one sha-keyed hash exchange, keeper by max(struct) — no
    keep-first window sort, no Python, and the shuffle carries hashes
    (the projection under the exchange must not include the text)."""
    from duckdb_graphar_spark.operators.dedup import canonical_keep_best
    from duckdb_graphar_spark.tables import load_table

    raw = load_table(spark, SF_DIR, "documents", widen=False)
    plan = _plan(canonical_keep_best(raw))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pcm_pipeline_two_python_stages_no_shuffle(spark):
    """m06: encode + decode are exactly two Arrow-batched mapInPandas
    stages composed WITHOUT an exchange between them — the whole audio
    pass is a per-partition pipeline."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_pcm,
        pcm_energy_stats,
    )
    from duckdb_graphar_spark.tables import load_table

    raw = load_table(spark, SF_DIR, "documents", widen=False)
    plan = _plan(pcm_energy_stats(encode_text_pcm(raw)))
    assert plan.count("MapInPandas") == 2
    assert "Exchange" not in plan


def test_trending_topk_window_partitioned(spark):
    """st10 serving step: the rank window partitions by window_start —
    parallel across windows, never a single-task global window."""
    from duckdb_graphar_spark.streaming.ops import trending_topk
    import datetime as dt

    sink = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), "a", 1)],
        "window_start timestamp, event_type string, n long",
    )
    plan = _plan(trending_topk(sink, k=3))
    assert "windowspecdefinition(window_start" in plan


def test_pq_adc_broadcast_plan_has_no_literal_blowup(spark):
    """s10 at production codebook sizes: with k=64 codes per subspace
    (m·k = 256+ table entries) the broadcast mode's scan-side plan must
    stay O(1) — the distance tables ride a BroadcastNestedLoopJoin as
    ONE row of data, not thousands of folded decimal constants.  The
    literal mode at the same k demonstrates the blow-up being avoided."""
    import numpy as np

    from duckdb_graphar_spark.operators.embeddings import pq_adc_topk

    rng = np.random.default_rng(11)
    n, d, m, k = 80, 8, 2, 64
    vecs = rng.normal(size=(n, d))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    books = [
        [(i, [float(x) for x in rng.normal(size=d // m)]) for i in range(k)]
        for _ in range(m)
    ]
    q = [float(x) for x in vecs[0]]
    bc_plan = _optimized(pq_adc_topk(df, books, q, table_mode="broadcast"))
    lit_plan = _optimized(pq_adc_topk(df, books, q, table_mode="literal"))
    # the broadcast plan carries the codebooks once (inside pq_encode's
    # argmin) but NOT the m·k folded distance-table decimals
    assert len(bc_plan) < len(lit_plan)
    assert "Join" in bc_plan
    # auto mode at m·k=128 > budget? 2*64=128 <= 256 stays literal; at
    # k=256 auto must flip — assert via the selector itself
    from duckdb_graphar_spark.operators.embeddings import _ADC_LITERAL_BUDGET

    assert m * k <= _ADC_LITERAL_BUDGET  # this fixture would stay literal in auto


def test_cohort_retention_no_expand_no_window(spark, qs):
    """q64: distinct users via two map-combinable aggregates — no
    count_distinct Expand, no window sort anywhere."""
    plan = _plan(qs["q64_cohort_retention"](spark, SF_DIR))
    assert "Expand" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan  # final count combines map-side


def test_hits_integer_sums_partial_no_window(spark, qs):
    """g17: every iteration aggregate is a partial integer sum; no
    windows, no Python, no cartesian products."""
    plan = _plan(qs["g17_hits"](spark, SF_DIR))
    assert "partial_sum" in plan or "partial_count" in plan
    assert "Window" not in plan
    assert "Cartesian" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stream_static_dim_broadcasts(spark):
    """st11's batch twin: the static dimension side must plan as a
    broadcast hash join — no shuffle of the event stream for the dim."""
    from duckdb_graphar_spark.streaming.ops import stream_static_enrich_agg
    from duckdb_graphar_spark.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events")
    dim = (
        load_table(spark, SF_DIR, "nation")
        .join(
            load_table(spark, SF_DIR, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("nk"), "r_name")
    )
    out = stream_static_enrich_agg(
        ev, dim, stream_key=F.col("user_id") % 25, dim_key="nk", group_col="r_name"
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_bpe_apply_folds_distinct_words_only(spark, qs):
    """t31: the merge fold must sit above the DISTINCT word aggregate,
    not the exploded token stream — the plan has the word-level
    HashAggregate under the fold projection and no Python stage."""
    plan = _plan(qs["t31_bpe_apply"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    # the folded per-word token table (built on the DISTINCT word
    # aggregate) broadcasts into the doc join; doc sums combine map-side
    assert "BroadcastExchange" in plan
    assert "partial_sum" in plan


def test_ohlc_single_aggregate_no_window(spark, qs):
    """q72: min_by/max_by give one map-combinable aggregate — no
    Window sort, no second scan of the event log."""
    plan = _plan(qs["q72_ohlc_resample"](spark, SF_DIR))
    assert "Window" not in plan
    assert "partial_min" in plan or "partial_count" in plan  # map-side partials
    assert plan.count("Scan parquet") == 1


def test_histogram_extrema_broadcast(spark, qs):
    """q73: the k-row extrema table broadcasts — the fact side is
    never shuffled by value."""
    plan = _plan(qs["q73_value_histogram"](spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_mips_queries_broadcast_no_global_sort(spark, qs):
    """s14: queries broadcast into a shuffle-free scoring map; top-k is
    the per-query window over scored rows, never a global sort."""
    plan = _plan(qs["s14_mips_topk"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan or "Window" in plan


def test_weighted_sample_takeordered_no_single_task_window(spark, qs):
    """t36: the top-k is TakeOrderedAndProject (per-partition heaps);
    the only Window runs over the k collected winners, after the
    limit."""
    df = qs["t36_weighted_sample"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_ktruss_no_cartesian(spark, qs):
    """g22: the wedge join is equi-keyed (vertex, then shared
    neighbor) — no nested-loop/cartesian anywhere."""
    plan = _plan(qs["g22_ktruss"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_char_ngram_profile_vocabulary_keyed(spark, qs):
    """t35: the only wide shuffle keys on (lang, ngram) — the
    aggregate — and the window runs over the aggregate, not the
    corpus."""
    plan = _plan(qs["t35_char_ngram_profile"](spark, SF_DIR))
    assert "partial_count" in plan  # map-side combine before the wire
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dynamic_partition_pruning_fires(spark):
    """q77's shape: a fact partitioned on the join column + a filtered
    dim must plan a runtime `dynamicpruning` subquery on the fact scan
    — only matching partition directories are read."""
    import shutil
    import tempfile

    from duckdb_graphar_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    out = tempfile.mkdtemp(prefix="dpp_plan_")
    try:
        ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
        fact = spark.read.parquet(out)
        from pyspark.sql import functions as F

        dim = (
            ev.select("event_type")
            .distinct()
            .filter(F.col("event_type").isin("view", "purchase"))
        )
        j = fact.join(dim, "event_type").groupBy("event_type").count()
        plan = _plan(j).lower()
        assert "dynamicpruning" in plan
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_g20_declared_entry_engages_hub_cap(spark, qs):
    """g20: the declared path runs WITH max_center_degree engaged — the
    cap's BROADCAST anti join against the (small by power-law
    definition) over-cap hub set must be in the plan: hubs are dropped
    without ever shuffling the neighbor table, so the capped plan costs
    ~nothing when no hubs exist and bounds the Σdeg(c)² wedge output
    when they do (uniform fixtures have no over-cap vertex, so results
    stay oracle-exact)."""
    plan = _plan(qs["g20_link_prediction"](spark, SF_DIR))
    assert "LeftAnti" in plan and "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ktruss_degree_ordered_generate(spark, qs):
    """g22: support counting is the degree-ordered oriented triangle
    enumeration — the triangle→3-edges explode (Generate) is the
    signature of the compact-forward plan (Σ|N⁺|² ≤ O(E^1.5) work),
    replacing the naive Σdeg² adjacency wedge join."""
    plan = _plan(qs["g22_ktruss"](spark, SF_DIR))
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_injects(spark):
    """q84's shape: with production thresholds lowered, a selective dim
    side of a shuffle join must plan a `bloom_filter_agg` creation and
    a `might_contain` prefilter on the fact side — rows die at the
    scan instead of riding the shuffle."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": (
            "100MB"
        ),
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _optimized(j).lower()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_twap_single_user_exchange(spark, qs):
    """q85's LEAD window and its final per-user aggregate must share
    ONE user_id hash exchange — a second exchange would mean the
    aggregate ignored the window's partitioning."""
    import re

    df = qs["q85_time_weighted_average"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_stream_scd2_enrich_broadcasts_dim(spark):
    """st24's per-micro-batch plan shape, checked on the batch twin:
    the SCD2 dimension must BROADCAST (equi-key BroadcastHashJoin with
    the interval containment as the post-probe condition) — the stream
    side never shuffles and no SortMergeJoin appears."""
    from duckdb_graphar_spark.operators.events import scd2_intervals
    from duckdb_graphar_spark.streaming.ops import stream_scd2_enrich
    from duckdb_graphar_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    df = stream_scd2_enrich(
        ev.filter("event_type = 'purchase'"), scd2_intervals(ev)
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_stream_scd2_enrich_left_mode(spark):
    """how='left' keeps uncovered events with NULL state (st29's
    contract): a key with no dim row, and an event before its key's
    first valid_from, both survive; how='inner' drops them; bad modes
    raise at plan time.  The left plan stays a broadcast hash join."""
    import datetime as dt

    import pytest as _pt

    from duckdb_graphar_spark.streaming.ops import stream_scd2_enrich

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    ev = spark.createDataFrame(
        [(1, 1, t(5)), (2, 1, t(0)), (3, 2, t(5))],
        "event_id long, user_id long, ts timestamp_ntz",
    )
    dim = spark.createDataFrame(
        [(1, "gold", t(3), None)],
        "user_id long, state string, valid_from timestamp_ntz, valid_to timestamp_ntz",
    )
    left = stream_scd2_enrich(ev, dim, how="left").collect()
    got = {r.event_id: r.state_asof for r in left}
    assert got == {1: "gold", 2: None, 3: None}
    inner = stream_scd2_enrich(ev, dim).collect()
    assert {r.event_id for r in inner} == {1}
    with _pt.raises(ValueError, match="how"):
        stream_scd2_enrich(ev, dim, how="full")
    plan = _plan(stream_scd2_enrich(ev, dim, how="left"))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_global_ntile_never_single_task_sorts(spark, qs):
    """q95's quintiles must come from the two-phase rank: range
    exchanges (parallel, boundary-sampled) + a broadcast offsets join —
    never Spark's own ntile over an unpartitioned window (whose plan
    hash-exchanges everything to ONE partition)."""
    df = qs["q95_rfm_segmentation"](spark, SF_DIR)
    plan = _plan(df)
    # the range exchange lives behind the lazy localCheckpoint that
    # pins partition placement (it shows as Scan ExistingRDD here);
    # what the final plan must show: per-__pid windows (parallel),
    # a broadcast offsets join, and NO ntile / single-partition window
    assert "ntile" not in plan.lower()
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(__pid" in plan
    assert "BroadcastHashJoin" in plan  # the n_buckets-row offsets table
    # and the un-checkpointed first phase must be a range repartition
    from duckdb_graphar_spark.tables import load_table
    from pyspark.sql import functions as F

    probe = (
        load_table(spark, SF_DIR, "orders")
        .select(F.col("o_custkey").alias("id"), F.col("o_orderkey").alias("v"))
        .repartitionByRange(8, F.col("v").asc(), F.col("id").asc())
    )
    assert "rangepartitioning" in _plan(probe)


def test_attribution_family_no_unbounded_following(spark, qs):
    """q96 (like q90 since r8) must express 'first purchase at-or-after'
    as a DESC running frame — Spark evaluates unbounded-FOLLOWING
    frames O(rows²) per partition."""
    df = qs["q96_time_decay_attribution"](spark, SF_DIR)
    plan = _plan(df)
    assert "unboundedfollowing" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_running_distinct_no_collect_set_window(spark, qs):
    """q94 must use the first-occurrence-flag running sum — a
    collect_set window would buffer a per-row set; the first-occurrence
    stamp must be a map-combinable min-struct aggregate feeding a hash
    join, not a per-(user,type) window."""
    df = qs["q94_running_distinct"](spark, SF_DIR)
    plan = _plan(df)
    assert "collect_set" not in plan.lower()
    # exactly the two segmented windows (in-segment running sum + the
    # per-user segment-prefix carry); the first-occurrence flag adds none
    assert plan.count("Window") == 2


def _executed_scan_rows(df) -> int:
    """Sum numOutputRows over every EXECUTED leaf file scan in the
    final (post-AQE) physical plan — reused exchanges/stages are
    deduped by node id, so the total is the number of rows actually
    read off storage, i.e. (corpus passes) × (input rows)."""
    total, seen = 0, set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        name = node.getClass().getSimpleName()
        if "FileSourceScan" in name or "BatchScan" in name:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    total += kv._2().value()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif "QueryStageExec" in name:
            stack.append(node.plan())
        else:
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
    return total


def test_kll_sketch_corpus_pass_count(spark):
    """q102's 100 TB contract, MEASURED (not inferred from plan text,
    which duplicates reused subtrees): the production sketch build
    reads the corpus exactly TWICE — per-level counts, then survivor
    selection; thresholds/floors/n_exact all derive from the counts
    table and every filter table broadcasts.  ``audit=True`` adds
    exactly ONE more pass (the q50-CDF rank-back), which is why it
    defaults off.  This pins three load-bearing plan properties at
    once: counts-based thresholds (no threshold recomputation from
    rows), exchange reuse across the count/kept consumers (the
    isnotnull(lvl) canonicalization guard in sketch.py), and the
    qsel-fed CDF branch (a summ-fed CDF degenerates n_exact into a
    DISTINCT over the raw scan — a whole extra pass)."""
    from pyspark.sql import functions as F

    from duckdb_graphar_spark.operators.sketch import kll_quantile_rollup
    from duckdb_graphar_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "__day", F.date_trunc("day", F.col("ts"))
    )
    n = ev.count()
    for partial, audit, want in (
        ("__day", False, 2),
        ("__day", True, 3),
        (None, False, 2),
        (None, True, 3),
    ):
        d = kll_quantile_rollup(
            ev, "event_type", "value", "event_id",
            partial_col=partial, k=256, audit=audit,
        )
        d.collect()
        got = _executed_scan_rows(d)
        assert got == want * n, (
            f"partial={partial} audit={audit}: read {got} rows "
            f"({got / n:.2f} corpus passes), expected {want}"
        )
