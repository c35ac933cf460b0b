"""Driver contract for the spark-graft builder (PySpark target).

`queries()` maps every implemented operator from SURVEY.md §2 to a
callable `(spark, sf_dir) -> DataFrame`; `oracle_sql()` gives the
DuckDB-equivalent SQL over the same parquet tables for the driver's
side-by-side correctness check.

Float determinism strategy: aggregates over doubles are summed through
DECIMAL casts (exact, order-independent), converted back to double, and
rounded — identical on both engines regardless of partial-aggregation
order.  Timestamp outputs are cast to µs precision on the DuckDB side
(its `events.ts` is TIMESTAMP_NS).
"""

from __future__ import annotations

import os
import re
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from duckdb_graphar_spark import ship_to_workers
from duckdb_graphar_spark.tables import load_table

# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def _q(name: str, sql: str | None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The harness may hand us a bare SparkSession built without the
            # repo on PYTHONPATH; ship the package so worker-side code
            # (Python DataSource, pandas UDFs, UDTFs) can unpickle.
            ship_to_workers(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _REGISTRY[name] = (wrapped, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec_sum(col: F.Column, digits: int = 4, prec: str = "26,8") -> F.Column:
    """Order-independent double aggregate: sum exact decimals, then back
    to double, then round — matches `ROUND(CAST(SUM(CAST(x AS
    DECIMAL(26,8))) AS DOUBLE), d)` in DuckDB bit-for-bit."""
    return F.round(F.sum(col.cast(f"decimal({prec})")).cast("double"), digits)


def _stringify_vec(col: str) -> F.Column:
    """Serialize an array<double> column to a '%.6f'-joined string for
    the driver's pandas canonicalizer (which cannot hash list cells).
    `+ 0.0d` folds IEEE -0.0 to +0.0 on both engines; the DuckDB twin is
    `array_to_string(list_transform(v, x -> printf('%.6f', x + 0.0)), ',')`."""
    return F.concat_ws(
        ",",
        F.expr(
            f"transform({col}, x -> format_string('%.6f', x + cast(0.0 as double)))"
        ),
    )


_SCALE = 10_000  # fixed-point scale for the two-phase exact sums (4 digits)


def _scaled_long(col: F.Column) -> F.Column:
    """Per-row fixed-point value: ROUND(x*10000) as LONG — identical in
    Spark and DuckDB (both round the double first, so the cast sees an
    integral value)."""
    return F.round(col * _SCALE).cast("long")


def _two_phase_exact_agg(df: DataFrame, keys: list[str], sums: dict[str, F.Column]):
    """Exact, order-independent, overflow-safe-at-any-scale SUM pipeline
    that stays on cheap LONG arithmetic in the hot path:

    phase 1 — per (keys, input-partition) LONG sums of the per-row
    scaled values.  A partition's sum is bounded (~1e6 rows x 1e9
    fixed-point units = 1e15 << 2^63), so longs can't overflow no
    matter the total data size.
    phase 2 — DECIMAL(38,0) total over the tiny per-partition partials
    (rows = groups x partitions), exact for any corpus.

    This replaces a decimal(26,8) accumulator scanned over EVERY row
    (128-bit arithmetic in the inner loop, ~2x slower) with long
    arithmetic per row + decimal arithmetic per partition.  Returns
    (phase-1 plan, per-sum decimal-total columns for phase 2, row-count
    column name)."""
    part = df.groupBy(*keys, F.spark_partition_id().alias("__pid")).agg(
        *[F.sum(_scaled_long(c)).alias(f"__s_{n}") for n, c in sums.items()],
        F.count(F.lit(1)).alias("__n"),
    )
    totals = {
        n: F.sum(F.col(f"__s_{n}").cast("decimal(38,0)")).cast("double") / _SCALE
        for n in sums
    }
    return part, totals


# edge derivation shared by all graph queries: src = o_custkey,
# dst = o_orderkey mod |customer|  (deterministic, SQL-expressible)
_E_SQL = (
    "SELECT o_custkey AS src, o_orderkey % (SELECT count(*) FROM customer) AS dst FROM orders"
)

# weighted variant (g32): a REAL integer weight column with heavy ties
# ((7·orderkey + custkey) mod 1000 — ~45 parallel weights per value at
# sf0.01), derived from integer keys only so both engines compute the
# identical value with no float rounding anywhere
_EW_SQL = (
    "SELECT o_custkey AS src, o_orderkey % (SELECT count(*) FROM customer) AS dst, "
    "(o_orderkey * 7 + o_custkey) % 1000 AS wv FROM orders"
)

# Shared by q81 (batch CMS) and st17 (streaming CMS): counter addition
# is order- and batch-boundary-independent, so both paths must produce
# the IDENTICAL point-estimate table.
_CMS_ORACLE = """
    WITH base AS (SELECT event_type AS g, CAST(user_id AS VARCHAR) AS val
                  FROM events),
    rws AS (SELECT g, val, j FROM base CROSS JOIN generate_series(0, 2) AS t(j)),
    h AS (SELECT g, j,
                 CAST(concat('0x', substr(md5('cms0' || chr(31) ||
                      CAST(j AS VARCHAR) || chr(31) || val), 1, 13))
                      AS UBIGINT) % 512 AS b
          FROM rws),
    counters AS (SELECT g, j, b, COUNT(*) AS c FROM h GROUP BY 1, 2, 3),
    exact AS (SELECT g, val, COUNT(*) AS n_exact FROM base GROUP BY 1, 2),
    q AS (SELECT g, val, n_exact FROM (
            SELECT g, val, n_exact,
                   ROW_NUMBER() OVER (PARTITION BY g
                                      ORDER BY n_exact DESC, val) AS rn
            FROM exact) WHERE rn <= 3),
    probe AS (SELECT q.g, q.val, q.n_exact, t.j,
                     CAST(concat('0x', substr(md5('cms0' || chr(31) ||
                          CAST(t.j AS VARCHAR) || chr(31) || q.val), 1, 13))
                          AS UBIGINT) % 512 AS b
              FROM q CROSS JOIN generate_series(0, 2) AS t(j)),
    est AS (SELECT p.g, p.val, p.n_exact, MIN(c.c) AS est
            FROM probe p JOIN counters c
              ON c.g = p.g AND c.j = p.j AND c.b = p.b
            GROUP BY 1, 2, 3),
    n AS (SELECT g, COUNT(*) AS n_tot FROM base GROUP BY 1)
    SELECT est.g AS event_type, est.val AS key,
           CAST(est.n_exact AS BIGINT) AS n_exact,
           CAST(est.est AS BIGINT) AS est_cnt,
           CAST(est.est - est.n_exact AS BIGINT) AS overcount,
           (est.est - est.n_exact) * 512 <= 3 * n.n_tot AS within_eps
    FROM est JOIN n ON est.g = n.g
    """



_NCUST_CACHE: dict[str, int] = {}


def _event_batches(spark: SparkSession, sf_dir: str, split: str = "id") -> list[DataFrame]:
    """The events table as micro-batch frames for
    ``streaming.ops.stage_event_batches``, the fixture for entries whose
    stream state must span batches:

    - ``"id"``: three batches by event_id mod 3
    - ``"time"``: three tiles of the global (ts, event_id) order, so
      batch order is event-time order and a streaming fold equals the
      batch fold
    - ``"purchase"``: non-purchases, then purchases, so every match
      reads the first batch's state
    - ``"nudge"``: the whole table, then two batches 3650 and 3660 days
      later that push the final watermark past every real row's match
      horizon.  Each is one view and one purchase of an impossible user
      (-1; event ids from 1e9, which the entries filter out): the rows
      must SURVIVE a join's event_type filters, or the filter sits below
      the watermark node and the nudge never advances it."""
    ev = _t(spark, sf_dir, "events")
    if split == "id":
        return [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    if split == "time":
        tiled = ev.withColumn("__tile", F.ntile(3).over(Window.orderBy("ts", "event_id")))
        return [tiled.filter(F.col("__tile") == i + 1).drop("__tile") for i in range(3)]
    if split == "purchase":
        purchase = F.col("event_type") == "purchase"
        return [ev.filter(~purchase), ev.filter(purchase)]
    one = ev.limit(1)

    def nudge(event_id: int, days: int, event_type: str) -> DataFrame:
        return one.select(
            F.lit(event_id).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {days} DAYS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit(event_type).alias("event_type"),
            F.col("value"),
            F.col("props"),
        )

    return [ev] + [
        nudge(1_000_000_000 + 2 * i, days, "view").unionByName(
            nudge(1_000_000_001 + 2 * i, days, "purchase")
        )
        for i, days in enumerate((3650, 3660), start=1)
    ]


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # |customer| is a fixture constant per sf_dir — memoize so repeated
    # graph queries don't re-run a count() job just to build the plan
    ncust = _NCUST_CACHE.get(sf_dir)
    if ncust is None:
        ncust = _NCUST_CACHE[sf_dir] = _t(spark, sf_dir, "customer").count()
    return _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("src"), (F.col("o_orderkey") % ncust).alias("dst")
    )


# ---------------------------------------------------------------------------
# §2.A scans
# ---------------------------------------------------------------------------


@_q("q00_scan_region", "SELECT r_regionkey, r_name FROM region")
def q00(spark, sf):
    return _t(spark, sf, "region").select("r_regionkey", "r_name")


@_q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(ROUND(l_quantity * 10000) AS BIGINT)) AS DOUBLE) / 10000, 4) AS sum_qty,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 10000) AS BIGINT)) AS DOUBLE) / 10000, 4) AS sum_base_price,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000, 4) AS sum_disc_price,
           ROUND((CAST(SUM(CAST(ROUND(l_quantity * 10000) AS BIGINT)) AS DOUBLE) / 10000) / COUNT(*), 6) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf):
    """Flagship pricing summary with the two-phase exact-sum pipeline:
    long fixed-point in the per-row hot loop, decimal only over
    per-partition partials (see `_two_phase_exact_agg`)."""
    li = _t(spark, sf, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    part, totals = _two_phase_exact_agg(
        li,
        keys,
        {
            "qty": F.col("l_quantity"),
            "base": F.col("l_extendedprice"),
            "disc": F.col("l_extendedprice") * (1 - F.col("l_discount")),
        },
    )
    return part.groupBy(*keys).agg(
        F.round(totals["qty"], 4).alias("sum_qty"),
        F.round(totals["base"], 4).alias("sum_base_price"),
        F.round(totals["disc"], 4).alias("sum_disc_price"),
        F.round(totals["qty"] / F.sum("__n"), 6).alias("avg_qty"),
        F.sum("__n").alias("count_order"),
    )


@_q(
    "q02_filter_between",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q02(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07) & (F.col("l_quantity") < 24)
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


@_q(
    "q03_topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q03(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


@_q(
    "q04_join_agg_segment",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(26,8))) AS DOUBLE), 4) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def q04(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@_q(
    "q05_revenue_by_nation",
    """
    SELECT n_name,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000, 4) AS revenue
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY n_name
    """,
)
def q05(spark, sf):
    r = _t(spark, sf, "region")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    joined = (
        F.broadcast(r)
        .join(F.broadcast(n), n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
    )
    part, totals = _two_phase_exact_agg(
        joined, ["n_name"], {"rev": F.col("l_extendedprice") * (1 - F.col("l_discount"))}
    )
    return part.groupBy("n_name").agg(F.round(totals["rev"], 4).alias("revenue"))


@_q(
    "q06_left_join_zero_fill",
    """
    SELECT c_custkey, COALESCE(cnt, 0) AS n_orders
    FROM customer LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
    ) o ON o_custkey = c_custkey
    """,
)
def q06(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("n_orders")
    )


@_q(
    "q07_semi_join",
    """
    SELECT c_nationkey, COUNT(*) AS n_customers
    FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
    GROUP BY c_nationkey
    """,
)
def q07(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_q(
    "q08_anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def q08(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@_q(
    "q09_cross_join",
    "SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def q09(spark, sf):
    return _t(spark, sf, "region").crossJoin(_t(spark, sf, "nation")).select("r_name", "n_name")


@_q(
    "q10_distinct_agg",
    """
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def q10(spark, sf):
    return (
        _t(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@_q(
    "q11_rollup",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q11(spark, sf):
    return (
        _t(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "q12_cube",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q12(spark, sf):
    return (
        _t(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "q13_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q13(spark, sf):
    _t(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n "
        "FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"
    )


@_q(
    "q14_window_rownum",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q14(spark, sf):
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        _t(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@_q(
    "q15_window_running_sum",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(26,8)))
                 OVER (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
           AS running_qty
    FROM lineitem
    """,
)
def q15(spark, sf):
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum(F.col("l_quantity").cast("decimal(26,8)")).over(w).cast("double"), 4).alias(
            "running_qty"
        ),
    )


@_q(
    "q16_window_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           LAG(o_orderkey) OVER w AS prev_orderkey,
           LEAD(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q16(spark, sf):
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = _t(spark, sf, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@_q(
    "q17_rank_ntile",
    """
    SELECT o_orderkey, o_orderpriority,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q17(spark, sf):
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return _t(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@_q(
    "q18_set_ops",
    """
    SELECT c FROM (
      SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'O'
      EXCEPT
      SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def q18(spark, sf):
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c"))
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("c"))
    return a.subtract(b)  # EXCEPT (distinct) semantics, not exceptAll


@_q(
    "q18b_intersect",
    """
    SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q18b(spark, sf):
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c"))
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("c"))
    return a.intersect(b)


@_q(
    "q19_string_funcs",
    """
    SELECT p_partkey,
           UPPER(p_brand) AS brand_upper,
           SUBSTR(p_name, 1, 8) AS name_prefix,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           (p_type LIKE '%BRASS%') AS is_brass,
           REGEXP_EXTRACT(p_name, '([a-z]+)$', 1) AS last_word
    FROM part
    """,
)
def q19(spark, sf):
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.col("p_type").like("%BRASS%").alias("is_brass"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
    )


@_q(
    "q20_date_funcs",
    """
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_month,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           DATEDIFF('day', CAST('1995-01-01' AS DATE), CAST(o_orderdate AS DATE)) AS days_since
    FROM orders
    """,
)
def q20(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
    )


@_q(
    "q21_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 1) AS price_r,
           ABS(l_discount - 0.05) AS disc_dev,
           ROUND(LN(l_extendedprice), 6) AS price_ln,
           ROUND(SQRT(l_quantity), 6) AS qty_sqrt,
           CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_bucket
    FROM lineitem
    """,
)
def q21(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.floor(F.col("l_quantity") / 10).alias("qty_bucket"),
    )


@_q(
    "q22_case_buckets",
    """
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def q22(spark, sf):
    o = _t(spark, sf, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return o.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n"))


@_q(
    "q23_array_ops",
    """
    SELECT vec_id, label,
           CAST(len(embedding) AS INT) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           ROUND(CAST(list_aggregate(embedding, 'sum') AS DOUBLE), 4) AS vec_sum
    FROM embeddings
    """,
)
def q23(spark, sf):
    e = _t(spark, sf, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0).cast("float"), lambda acc, x: acc + x
            ).cast("double"),
            4,
        ).alias("vec_sum"),
    )


@_q(
    "q24_json_funcs",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
    """,
)
def q24(spark, sf):
    e = _t(spark, sf, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


@_q(
    "q25_events_tumbling",
    """
    SELECT CAST(to_timestamp(CAST(FLOOR(epoch(ts) / 300) AS BIGINT) * 300) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(26,8))) AS DOUBLE), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q25(spark, sf):
    e = _t(spark, sf, "events")
    bucket = F.timestamp_seconds(F.floor(F.unix_timestamp("ts") / 300) * 300)
    return e.groupBy(bucket.alias("window_start"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(F.col("value")).alias("sum_value"),
    )


@_q(
    "q26_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def q26(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = F.when(
        prev.isNull() | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800), 1
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@_q(
    "q27_exact_distinct",
    "SELECT COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(DISTINCT l_partkey) AS n_parts FROM lineitem",
)
def q27(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@_q(
    "q28_pivot",
    """
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_linestatus = 'O') AS status_o,
           COUNT(*) FILTER (WHERE l_linestatus = 'F') AS status_f
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q28(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_linestatus") == "O", 1)).alias("status_o"),
        F.count(F.when(F.col("l_linestatus") == "F", 1)).alias("status_f"),
    )


@_q(
    "q29_scalar_subquery",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.5 FROM orders)
    """,
)
def q29(spark, sf):
    o = _t(spark, sf, "orders")
    threshold = o.agg((F.avg("o_totalprice") * 1.5).alias("t"))
    return o.join(F.broadcast(threshold)).filter(F.col("o_totalprice") > F.col("t")).select(
        "o_orderkey", "o_totalprice"
    )


@_q(
    "q30_exists_correlated",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity > 45)
    """,
)
def q30(spark, sf):
    s = _t(spark, sf, "supplier")
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 45)
    return s.join(li, s.s_suppkey == li.l_suppkey, "left_semi").select("s_suppkey", "s_name")


@_q(
    "q31_approx_distinct",
    # HLL sketches differ across engines, so the approximate value itself
    # can't be hash-compared; instead we emit the EXACT distinct count
    # (engine-portable) plus a boolean asserting the HLL estimate landed
    # within its documented 5% relative error of the exact answer.
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS within_tolerance
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q31(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        # rsd=0.01 keeps the observed relative error under 1% at every
        # test SF, so the 5% assertion band has wide margin.
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
    ).select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= F.col("exact_orders") * F.lit(0.05)
        ).alias("within_tolerance"),
    )


@_q(
    "q32_except_all",
    """
    SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey AS c FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q32(spark, sf):
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c"))
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("c"))
    return a.exceptAll(b)


@_q(
    "q33_range_join",
    """
    SELECT b.bucket, COUNT(o.o_orderkey) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(26,8))) AS DOUBLE), 4) AS sum_price
    FROM (SELECT CAST(range AS BIGINT) AS bucket FROM range(0, 25)) b
    LEFT JOIN orders o
      ON o.o_totalprice >= b.bucket * 20000 AND o.o_totalprice < (b.bucket + 1) * 20000
    GROUP BY b.bucket
    """,
)
def q33(spark, sf):
    """Theta (range) join: price-band histogram.  The bucket side is 25
    rows → Catalyst plans BroadcastNestedLoopJoin; each orders row is
    streamed against the broadcast bounds (no shuffle of the fact side)."""
    o = _t(spark, sf, "orders")
    b = spark.range(0, 25).select(F.col("id").alias("bucket"))
    cond = (F.col("o_totalprice") >= F.col("bucket") * 20000) & (
        F.col("o_totalprice") < (F.col("bucket") + 1) * 20000
    )
    return (
        F.broadcast(b)
        .join(o, cond, "left")
        .groupBy("bucket")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            _dec_sum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


@_q(
    "q34_map_funcs",
    """
    SELECT n_nationkey,
           map(['name','region'], [n_name, CAST(n_regionkey AS VARCHAR)])['name'][1] AS nm,
           CAST(cardinality(map(['name','region'], [n_name, CAST(n_regionkey AS VARCHAR)])) AS INT) AS nkeys
    FROM nation
    """,
)
def q34(spark, sf):
    """MapType surface: map_from_arrays / element_at / map_keys (§2.D
    scalar-fn row 'map')."""
    n = _t(spark, sf, "nation")
    m = F.map_from_arrays(
        F.array(F.lit("name"), F.lit("region")),
        F.array(F.col("n_name"), F.col("n_regionkey").cast("string")),
    )
    return n.select(
        "n_nationkey",
        F.element_at(m, "name").alias("nm"),
        F.size(F.map_keys(m)).alias("nkeys"),
    )


@_q(
    "q35_pandas_grouped_agg",
    """
    SELECT c_nationkey,
           MAX(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
         - MIN(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)) AS bal_span_cents
    FROM customer GROUP BY c_nationkey
    """,
)
def q35(spark, sf):
    """UDAF surface (§2.D 'UDF surface' row): an Arrow-batched grouped-agg
    pandas UDF (max-min span over exact integer cents — deterministic
    regardless of partial-aggregation order)."""
    from duckdb_graphar_spark.functions import bal_span_udaf

    bal_span = bal_span_udaf()
    c = _t(spark, sf, "customer").withColumn(
        "__cents", (F.col("c_acctbal").cast("decimal(12,2)") * 100).cast("long")
    )
    return c.groupBy("c_nationkey").agg(bal_span(F.col("__cents")).alias("bal_span_cents"))


@_q(
    "q36_window_range_between",
    """
    SELECT o_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(26,8))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderkey
             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS nearby_sum
    FROM orders
    """,
)
def q36(spark, sf):
    """Value-range window frame (rangeBetween) — complements q15's
    row-frame running sum."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey").rangeBetween(-5, 0)
    return o.select(
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(26,8)")).over(w).cast("double"), 4
        ).alias("nearby_sum"),
    )


# -- TPC-H-shaped suite (q37-q44): the canonical decision-support query
# -- shapes the host engine runs (DuckDB ships the full TPC-H kit),
# -- adapted to the fixture schema.  Each exercises a distinct plan
# -- shape: conditional semi-join, outer-join distribution, top-k over a
# -- 4-way join, correlated-scalar-avg, HAVING-driven IN, disjunctive
# -- pushdown, nation-pair self-join, anti-join + global scalar.


@_q(
    "q37_priority_exists",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q37(spark, sf):
    """TPC-H Q4 shape: EXISTS with a correlated non-equi condition →
    left-semi join on (key, range) then count per priority."""
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate)
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_q(
    "q38_cust_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q38(spark, sf):
    """TPC-H Q13 shape: outer join with a join-side filter, then a
    two-level aggregation (per-customer count → distribution)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_q(
    "q39_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(26,8))) AS DOUBLE), 4) AS revenue
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q39(spark, sf):
    """TPC-H Q10 shape: 4-way join + agg + deterministic top-20
    (TakeOrderedAndProject; dims broadcast)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_q(
    "q40_small_qty_revenue",
    """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(26,8))) AS DOUBLE) / 7.0, 4) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
)
def q40(spark, sf):
    """TPC-H Q17 shape: correlated scalar AVG per part → per-part
    aggregate joined back (decorrelated, one shuffle) instead of a
    re-executed subquery per row."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_brand") == "Brand#23")
    per_part = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("__qty_limit")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part.withColumnRenamed("l_partkey", "__pk"), li.l_partkey == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("__qty_limit"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(26,8)")).cast("double") / 7.0,
                4,
            ).alias("avg_yearly")
        )
    )


@_q(
    "q41_large_volume_cust",
    """
    SELECT c_custkey, o_orderkey, o_totalprice,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(26,8))) AS DOUBLE), 4) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
    GROUP BY c_custkey, o_orderkey, o_totalprice
    """,
)
def q41(spark, sf):
    """TPC-H Q18 shape: IN over a HAVING aggregate → semi-join against
    the aggregated key set, then the outer 3-way join + agg."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__s"))
        .filter(F.col("__s") > 300)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "__ok"), o.o_orderkey == F.col("__ok"), "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(_dec_sum(F.col("l_quantity")).alias("total_qty"))
    )


@_q(
    "q42_disjunctive_pushdown",
    """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(26,8))) AS DOUBLE), 4) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND
      ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 20))
    """,
)
def q42(spark, sf):
    """TPC-H Q19 shape: OR-of-ANDs across both join sides — Catalyst
    extracts the common single-side conjuncts (p_brand IN, l_quantity
    range) below the join; the residual disjunction stays on top."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    c2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(10, 25)
        & F.col("l_quantity").between(10, 20)
    )
    return joined.filter(c1 | c2).agg(
        _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@_q(
    "q43_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           ROUND(CAST(SUM(CAST(volume AS DECIMAL(26,8))) AS DOUBLE), 4) AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 YEAR(l_shipdate) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier, lineitem, orders, customer, nation n1, nation n2
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
            AND c_nationkey = n2.n_nationkey
            AND n1.n_name IN ('NATION_1', 'NATION_2')
            AND n2.n_name IN ('NATION_1', 'NATION_2')
            AND n1.n_name <> n2.n_name)
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q43(spark, sf):
    """TPC-H Q7 shape: two roles of the same dimension (supplier nation
    vs customer nation) — nation joined twice under different aliases,
    both broadcast; the cross-nation inequality filters the pair."""
    s = _t(spark, sf, "supplier")
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation").filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    n1 = n.select(F.col("n_nationkey").alias("__nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("__nk2"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("__nk1"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("__nk2"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@_q(
    "q44_quiet_rich_customers",
    """
    SELECT c_nationkey, COUNT(*) AS numcust,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(26,8))) AS DOUBLE), 4) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)
def q44(spark, sf):
    """TPC-H Q22 shape: uncorrelated scalar subquery (broadcast) +
    NOT EXISTS (anti-join) + aggregate."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("__avg"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dec_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@_q(
    "q45_salted_join",
    """
    SELECT c_mktsegment,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(26,8))) AS DOUBLE), 4) AS segment_total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q45(spark, sf):
    """Skew-mitigation surface: explicit (key, salt) join — identical
    rows to the plain join (the oracle IS the unsalted join), shuffle
    spread over salt partitions per hot key."""
    from duckdb_graphar_spark.operators.skew import salted_join

    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").withColumnRenamed("c_custkey", "o_custkey")
    return (
        salted_join(o, c, "o_custkey", salt=8)
        .groupBy("c_mktsegment")
        .agg(_dec_sum(F.col("o_totalprice")).alias("segment_total"))
    )


@_q(
    "q46_salted_collect_list",
    """
    SELECT l_suppkey,
           array_to_string(list_sort(list(l_orderkey * 10 + l_linenumber)), ',') AS line_ids
    FROM lineitem WHERE l_suppkey < 20
    GROUP BY l_suppkey
    """,
)
def q46(spark, sf):
    """Two-phase salted collect_list (non-algebraic agg AQE can't split);
    sorted + joined to a scalar so the result is salt-independent."""
    from duckdb_graphar_spark.operators.skew import salted_collect_list

    li = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_suppkey") < 20)
        .select("l_suppkey", (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("__lid"))
    )
    return salted_collect_list(li, "l_suppkey", "__lid", salt=8).select(
        "l_suppkey", F.array_join("values", ",").alias("line_ids")
    )


@_q(
    "t10_hash_split",
    """
    SELECT doc_id,
           CASE WHEN md5(text) < '1' THEN 'test'
                WHEN md5(text) < '3' THEN 'valid'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def t10(spark, sf):
    """Content-addressed train/valid/test assignment — stateless filter,
    stable across engines/partitionings (vs non-reproducible sample())."""
    from duckdb_graphar_spark.operators.sampling import hash_split

    d = _t(spark, sf, "documents")
    return hash_split(d, "text").select("doc_id", "split")


@_q(
    "t11_stratified_take",
    """
    SELECT doc_id, bucket FROM (
      SELECT doc_id, doc_id % 5 AS bucket,
             ROW_NUMBER() OVER (PARTITION BY doc_id % 5 ORDER BY md5(text)) AS rn
      FROM documents)
    WHERE rn <= 7
    """,
)
def t11(spark, sf):
    """Deterministic per-stratum sample: smallest-content-hash rows per
    bucket (one shuffle on the stratum key)."""
    from duckdb_graphar_spark.operators.sampling import stratified_take

    d = _t(spark, sf, "documents").withColumn("bucket", F.col("doc_id") % 5)
    return stratified_take(d, "bucket", n_per_key=7, order_col="text").select(
        "doc_id", "bucket"
    )


@_q(
    "t12_prep_pipeline",
    """
    WITH q AS (
      SELECT doc_id, text,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tok,
             CASE WHEN LENGTH(text) > 0
                  THEN CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                       / LENGTH(text)
                  ELSE 0.0 END AS punct
      FROM documents
    ),
    scored AS (
      SELECT doc_id, text,
             (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.5 ELSE 0.0 END)
             + (CASE WHEN punct < 0.2 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN n_tok > 0
                      AND CAST(LENGTH(text) AS DOUBLE) / n_tok BETWEEN 3.0 AND 12.0
                     THEN 0.25 ELSE 0.0 END) AS quality
      FROM q
    ),
    kept AS (SELECT doc_id, text FROM scored WHERE quality >= 0.75),
    deduped AS (
      SELECT MIN(doc_id) AS doc_id, ANY_VALUE(text) AS text
      FROM kept GROUP BY sha256(text)
    )
    SELECT doc_id,
           CASE WHEN md5(text) < '1' THEN 'test'
                WHEN md5(text) < '3' THEN 'valid'
                ELSE 'train' END AS split
    FROM deduped
    """,
)
def t12(spark, sf):
    """End-to-end training-data prep composition: quality filter →
    exact content dedup (keep lowest doc_id) → content-addressed split
    assignment.  One shuffle total (the dedup groupBy); quality scoring
    and split assignment are stateless row expressions."""
    from duckdb_graphar_spark.operators.sampling import hash_split
    from duckdb_graphar_spark.operators.text import quality_score

    d = _t(spark, sf, "documents")
    kept = d.withColumn("__q", quality_score(F.col("text"))).filter(F.col("__q") >= 0.75)
    deduped = (
        kept.groupBy(F.sha2(F.col("text"), 256).alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"), F.any_value("text").alias("text"))
        .drop("__h")
    )
    return hash_split(deduped, "text").select("doc_id", "split")


@_q(
    "q50_asof_join",
    """
    WITH o AS (SELECT o_custkey AS user_id, o_orderdate, MAX(o_orderkey) AS last_orderkey
               FROM orders GROUP BY 1, 2)
    SELECT e.event_id, e.user_id, o.last_orderkey
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
    """,
)
def q50(spark, sf):
    """Point-in-time enrichment: each event picks up the user's latest
    order at-or-before the event timestamp.  Oracle is DuckDB's native
    ASOF JOIN; the Spark side is the single-shuffle union +
    ordered-carry-forward composition (operators/asof.py) — no range
    join, no Python.  (Right side pre-aggregated per (user, date) so
    tie-breaking is deterministic on both engines.)"""
    from duckdb_graphar_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    return asof_join(
        ev, o, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_cols=["last_orderkey"],
    ).select("event_id", "user_id", "last_orderkey")


@_q(
    "q55_asof_forward",
    """
    WITH o AS (SELECT o_custkey AS user_id, o_orderdate, MAX(o_orderkey) AS next_orderkey
               FROM orders GROUP BY 1, 2)
    SELECT e.event_id, e.user_id, o.next_orderkey
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.user_id AND e.ts <= o.o_orderdate
    """,
)
def q55(spark, sf):
    """Forward as-of join: each event picks up the user's EARLIEST order
    at-or-after the event timestamp (operators/asof.py
    direction='forward' — same single-shuffle carry, descending sort).
    Oracle is DuckDB's native ASOF with the inequality flipped."""
    from duckdb_graphar_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("next_orderkey"))
    )
    return asof_join(
        ev, o, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_cols=["next_orderkey"], direction="forward",
    ).select("event_id", "user_id", "next_orderkey")


@_q(
    "q57_asof_nearest",
    # ORACLE: DuckDB has no 'nearest' ASOF — compose it from the
    # backward and forward native ASOF joins and pick the closer side
    # (tie → backward), exactly the operator's documented rule.
    """
    WITH o AS (SELECT o_custkey AS user_id, o_orderdate, MAX(o_orderkey) AS near_orderkey
               FROM orders GROUP BY 1, 2),
    b AS (SELECT e.event_id, e.user_id, e.ts, o.o_orderdate AS bd, o.near_orderkey AS bk
          FROM events e ASOF LEFT JOIN o
            ON e.user_id = o.user_id AND e.ts >= o.o_orderdate),
    f AS (SELECT e.event_id, o.o_orderdate AS fd, o.near_orderkey AS fk
          FROM events e ASOF LEFT JOIN o
            ON e.user_id = o.user_id AND e.ts <= o.o_orderdate)
    SELECT b.event_id, b.user_id,
           CASE
             WHEN bk IS NULL THEN fk
             WHEN fk IS NULL THEN bk
             WHEN b.ts - CAST(bd AS TIMESTAMP) <= CAST(fd AS TIMESTAMP) - b.ts THEN bk
             ELSE fk
           END AS near_orderkey
    FROM b JOIN f USING (event_id)
    """,
)
def q57(spark, sf):
    """Nearest as-of join: the closer of the backward/forward matches,
    ties backward (pandas merge_asof convention) — both carries share
    one window partitioning (operators/asof.py direction='nearest')."""
    from duckdb_graphar_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("near_orderkey"))
    )
    return asof_join(
        ev, o, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_cols=["near_orderkey"], direction="nearest",
    ).select("event_id", "user_id", "near_orderkey")


@_q(
    "q56_interval_overlap_join",
    # ORACLE: the naive overlap join (DuckDB plans BETWEEN-pair joins as
    # IEJoin natively, fine at oracle scale).
    """
    WITH iv AS (
      SELECT o_orderkey AS k, o_custkey AS c, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + CAST(o_orderkey % 7 AS INTEGER) AS e
      FROM orders
    )
    SELECT a.k AS left_key, b.k AS right_key, a.c AS custkey
    FROM iv a JOIN iv b
      ON a.c = b.c AND a.k < b.k AND a.s <= b.e AND b.s <= a.e
    """,
)
def q56(spark, sf):
    """Interval×interval overlap join per customer — bucket-decomposed
    equi-join with canonical-bucket pair emission (no distinct), the
    generalization of q53's point-in-interval plan
    (`operators/interval.py:interval_overlap_join`)."""
    from duckdb_graphar_spark.operators.interval import interval_overlap_join

    o = _t(spark, sf, "orders")
    iv = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.unix_date(F.col("o_orderdate").cast("date")).alias("s"),
        (F.unix_date(F.col("o_orderdate").cast("date")) + F.col("o_orderkey") % 7).alias("e"),
    )
    a = iv.select(
        F.col("k").alias("left_key"), F.col("c").alias("custkey"),
        F.col("s").alias("ls"), F.col("e").alias("le"),
    )
    b = iv.select(
        F.col("k").alias("right_key"), F.col("c").alias("__rc"),
        F.col("s").alias("rs"), F.col("e").alias("re"),
    )
    out = interval_overlap_join(
        a, b, left_start="ls", left_end="le", right_start="rs",
        right_end="re", bucket_size=7, on=("custkey", "__rc"),
    )
    return out.filter(F.col("left_key") < F.col("right_key")).select(
        "left_key", "right_key", "custkey"
    )


_BUCKETED_CACHE: set[str] = set()


@_q(
    "q51_bucketed_join",
    """
    SELECT o_orderkey, c_mktsegment, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q51(spark, sf):
    """Co-located join over bucketed layouts: the write-time shuffle
    (bucketBy custkey, both sides) makes this join exchange-free at read
    time — the storage-layout answer to fact-fact joins at 100 TB
    (tests/test_bucketing.py pins the no-Exchange plan)."""
    from duckdb_graphar_spark.bucketing import bucketed, write_bucketed

    tag = re.sub(r"\W", "_", sf)
    to, tc = f"q51_orders_{tag}", f"q51_customer_{tag}"
    if sf not in _BUCKETED_CACHE:
        write_bucketed(_t(spark, sf, "orders"), to, "o_custkey", n_buckets=8)
        write_bucketed(
            _t(spark, sf, "customer").withColumnRenamed("c_custkey", "o_custkey"),
            tc,
            "o_custkey",
            n_buckets=8,
        )
        _BUCKETED_CACHE.add(sf)
    return (
        bucketed(spark, to)
        .join(bucketed(spark, tc), "o_custkey")
        .select("o_orderkey", "c_mktsegment", "o_totalprice")
    )


@_q(
    "q52_unpivot",
    """
    SELECT p_partkey, attr, val FROM (
      SELECT p_partkey, CAST(p_size AS DOUBLE) AS size, p_retailprice AS retailprice
      FROM part WHERE p_partkey < 50)
    UNPIVOT (val FOR attr IN (size, retailprice))
    """,
)
def q52(spark, sf):
    """UNPIVOT / melt (wide → long): DataFrame `unpivot` — the inverse
    of q28's pivot."""
    p = (
        _t(spark, sf, "part")
        .filter(F.col("p_partkey") < 50)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        )
    )
    return p.unpivot("p_partkey", ["size", "retailprice"], "attr", "val")


@_q(
    "u02_range_source",
    """
    SELECT range AS n, range * range AS sq
    FROM range(0, 1000) WHERE range % 7 = 0
    """,
)
def u02(spark, sf):
    """Generator table source (DuckDB range() == spark.range) — no input
    files at all."""
    return (
        spark.range(0, 1000)
        .filter(F.col("id") % 7 == 0)
        .select(F.col("id").alias("n"), (F.col("id") * F.col("id")).alias("sq"))
    )


@_q(
    "u03_datasource_sink",
    # ORACLE: what the custom Python-DataSource sink persisted must
    # equal the same filter over the source table.
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 30
    """,
)
def u03(spark, sf):
    """Batch sink through the public Python Data Source V2 writer API:
    per-partition pyarrow parquet files + two-phase commit manifest
    (`duckdb_graphar_spark/datasources.py`), then read back."""
    import tempfile

    from duckdb_graphar_spark.datasources import ArrowParquetSinkDataSource

    try:
        spark.dataSource.register(ArrowParquetSinkDataSource)
    except Exception:
        pass  # already registered in this session
    out = tempfile.mkdtemp(prefix="u03_sink_")
    df = _t(spark, sf, "lineitem").filter(
        (F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 30)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    df.write.format("arrow_parquet_sink").option("path", out).mode("append").save()
    return spark.read.parquet(out + "/*.parquet")


@_q(
    "u05_source_pushdown",
    # ORACLE: the synthetic payload is SQL-replayable — bucket 3's ids
    # are 3000..3999 with value (i*i) mod 997; the pushdown itself is
    # pinned by a plan/unit test (one planned partition), the values
    # here pin the read path.
    """
    SELECT CAST(3 AS INTEGER) AS bucket,
           COUNT(*) AS n,
           CAST(SUM((i * i) % 997) AS BIGINT) AS sum_value,
           CAST(MIN(i) AS BIGINT) AS min_id,
           CAST(MAX(i) AS BIGINT) AS max_id
    FROM UNNEST(generate_series(3000, 3999)) AS t(i)
    """,
)
def u05(spark, sf):
    """Python Data Source batch reader WITH FILTER PUSHDOWN (Spark
    4.1 `pushFilters` — the fourth DSv2 corner after u02/u03/u04): a
    `bucket = 3` predicate reaches the reader as `EqualTo(("bucket",),
    3)` and planning collapses from 8 partitions to ONE — the
    Python-source analogue of GraphAr's chunk pruning; unsupported
    predicates are yielded back for post-scan evaluation
    (`duckdb_graphar_spark/datasources.py:BucketedRangeDataSource`)."""
    from duckdb_graphar_spark.datasources import BucketedRangeDataSource

    try:
        spark.dataSource.register(BucketedRangeDataSource)
    except Exception:
        pass  # already registered in this session
    # harness-proofing: a BARE session (the driver's) has this runtime
    # conf at its false default, and Spark then REFUSES a reader that
    # implements pushFilters rather than silently skipping pushdown.
    # The conf is consulted at EXECUTION time (worker init), so a lazy
    # return + restore would fail when the caller collects — instead
    # run the (1-row) aggregate inside the guarded window and hand back
    # a local DataFrame, restoring the caller's prior value in finally
    # so the flag never leaks into later entries in a shared session.
    prior = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        src = spark.read.format("bucketed_range").load()
        agg = (
            src.filter(F.col("bucket") == 3)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("sum_value"),
                F.min("id").alias("min_id"),
                F.max("id").alias("max_id"),
            )
        )
        return spark.createDataFrame(agg.collect(), agg.schema)
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", prior)


@_q(
    "q84_runtime_bloom_filter_join",
    # ORACLE: the plain join-filter-aggregate — the bloom filter is a
    # pure execution-strategy change (a might-contain prefilter can
    # only drop rows the join would drop anyway), so values must be
    # identical; the PLAN divergence (bloom_filter_agg + scan-side
    # might_contain) is pinned separately in test_plans.py.
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(26,8)))
                 AS DOUBLE), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)
def q84(spark, sf):
    """Runtime BLOOM-FILTER join reduction — the row-level sibling of
    q77's dynamic partition pruning and THE 100 TB scan-elision lever
    for shuffle joins: Catalyst builds a bloom filter over the
    selective (filtered orders) side's join keys and injects a
    might_contain prefilter into the fact scan, so most lineitem rows
    die at the scan instead of riding the shuffle.  Local-mode fixture
    sizes sit below the production thresholds, so the entry lowers them
    for the guarded window only (u05's collect-inside / restore-in-
    finally discipline — the conf is consulted at planning time, which
    is lazy) and forces the shuffle join the bloom path requires.
    Values are oracle-identical to the plain join by construction."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": (
            "100MB"
        ),
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        li = _t(spark, sf, "lineitem")
        o = _t(spark, sf, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        agg = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                _dec_sum(F.col("l_extendedprice"), 2).alias("revenue"),
            )
        )
        return spark.createDataFrame(agg.collect(), agg.schema)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@_q(
    "u06_map_in_arrow",
    # ORACLE: byte/substring counts recomputed with SQL string
    # functions — all-integer outputs, exact.
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CAST(length(text) - length(replace(text, ' ', '')) AS INTEGER)
             AS n_spaces
    FROM documents
    """,
)
def u06(spark, sf):
    """`mapInArrow` — the LOWEST-overhead Python execution surface
    (completing the set: pandas UDF/UDAF, UDTF, mapInPandas/
    applyInPandas, DSv2 source/sink/stream): the generator receives raw
    `pyarrow.RecordBatch`es and answers with RecordBatches built from
    vectorized `pyarrow.compute` kernels — no pandas materialization,
    no per-row Python, zero-copy both ways.  The right tier for
    byte-level scans (codec sniffing, tokenizer front-ends) where even
    the Arrow→pandas conversion of mapInPandas is measurable."""
    import pyarrow as pa
    import pyarrow.compute as pc

    d = _t(spark, sf, "documents").select("doc_id", "text")

    def arrow_stats(it):
        for batch in it:
            txt = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.binary_length(pc.cast(txt, pa.binary())),
                    pc.cast(pc.count_substring(txt, " "), pa.int32()),
                ],
                ["doc_id", "n_bytes", "n_spaces"],
            )

    return d.mapInArrow(arrow_stats, "doc_id long, n_bytes int, n_spaces int")


@_q(
    "u04_stream_source",
    # ORACLE: the completed stream's final complete-mode state must
    # equal the plain range() aggregate — a FULL value oracle for a
    # custom DSv2 STREAMING source (exactly-replayable offsets).
    """
    SELECT CAST(range % 5 AS BIGINT) AS k, COUNT(*) AS n,
           CAST(SUM(range) AS BIGINT) AS sum_n,
           CAST(SUM(range * range) AS BIGINT) AS sum_sq
    FROM range(0, 1000) GROUP BY 1
    """,
)
def u04(spark, sf):
    """Streaming source through the public Python Data Source V2 API:
    a deterministic bounded counter emitting (n, n²) in 100-row
    micro-batches with replayable offsets
    (`datasources.py:CounterStreamDataSource`), aggregated statefully
    in complete mode and driven to completion — the read-side twin of
    u03's DSv2 sink."""
    from duckdb_graphar_spark.datasources import CounterStreamDataSource
    from duckdb_graphar_spark.streaming.ops import run_to_memory

    try:
        spark.dataSource.register(CounterStreamDataSource)
    except Exception:
        pass  # already registered in this session
    stream = spark.readStream.format("counter_stream").load()
    agg = stream.groupBy((F.col("n") % 5).alias("k")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n").alias("sum_n"),
        F.sum("sq").alias("sum_sq"),
    )
    return run_to_memory(agg, "u04_out", mode="complete").select(
        F.col("k").cast("long").alias("k"),
        "n",
        F.col("sum_n").cast("long").alias("sum_n"),
        F.col("sum_sq").cast("long").alias("sum_sq"),
    )


@_q(
    "u07_stream_sink",
    # ORACLE: the exactly-once readback (union of manifest-listed files
    # across three committed micro-batches) must reproduce the events
    # table row-for-row — a dropped batch, a double-committed retry
    # partial, or an Arrow schema mangle all break the match.  ts
    # compared as epoch µs (the st02 discipline).
    """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
    FROM events
    """,
)
def u07(spark, sf):
    """Streaming SINK through the public Python Data Source V2 API —
    the last DSv2 corner (u01 UDTF aside: generator source u02, batch
    sink u03, streaming source u04, pushdown reader u05, mapInArrow
    u06): Arrow RecordBatches flow straight into per-partition parquet
    files, and each micro-batch's driver-side commit atomically
    publishes a manifest naming only the successful attempt's files —
    the two-phase exactly-once contract, per batch, across three
    staged mtime-ordered micro-batches
    (`datasources.py:ParquetStreamSinkDataSource`)."""
    import shutil

    from duckdb_graphar_spark.datasources import (
        ParquetStreamSinkDataSource,
        read_stream_sink_output,
    )
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        stage_event_batches,
    )

    try:
        spark.dataSource.register(ParquetStreamSinkDataSource)
    except Exception:
        pass  # already registered in this session
    stage = tempfile.mkdtemp(prefix="u07_stage_")
    outdir = tempfile.mkdtemp(prefix="u07_sink_")
    ck = tempfile.mkdtemp(prefix="u07_ck_")
    try:
        stage_event_batches(_event_batches(spark, sf), stage)
        stream = read_events_stream(spark, stage, max_files=1).select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        q = (
            stream.writeStream.format("parquet_stream_sink")
            .option("path", outdir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = read_stream_sink_output(spark, outdir)
        return spark.createDataFrame(got.collect(), got.schema)
    finally:
        for d in (stage, outdir, ck):
            shutil.rmtree(d, ignore_errors=True)


@_q(
    "q49_string_agg",
    """
    SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS names
    FROM customer WHERE c_custkey < 40
    GROUP BY c_nationkey
    """,
)
def q49(spark, sf):
    """Ordered string aggregation (DuckDB string_agg ... ORDER BY):
    collect_list → sort_array → array_join, all JVM-side."""
    c = _t(spark, sf, "customer").filter(F.col("c_custkey") < 40)
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_list("c_name")), ",").alias("names")
    )


@_q(
    "q47_percentile_exact",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q47(spark, sf):
    """Exact continuous percentile (interpolated) — the order-statistic
    aggregate shape; Spark's `percentile` == DuckDB's quantile_cont."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95_price"),
    )


@_q(
    "q54_approx_percentile",
    # ORACLE: the sketch value itself differs across engines, so emit the
    # EXACT interpolated percentile (engine-portable, q47-proven) plus
    # booleans asserting the approx value landed inside the ±0.001
    # rank-error band (10× the 1/accuracy=1e-4 guarantee) around the
    # exact order statistics.
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_exact,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,
           TRUE AS median_in_band,
           TRUE AS p95_in_band
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q54(spark, sf):
    """Approximate percentile (sketch-based, the 100 TB path where exact
    order statistics would shuffle the world) verified against its rank
    -error guarantee — the q31 pattern applied to quantiles."""
    li = _t(spark, sf, "lineitem")
    c = F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_percentile(c, F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000)).alias(
                "__ap"
            ),
            F.round(F.percentile(c, F.lit(0.5)), 4).alias("median_exact"),
            F.round(F.percentile(c, F.lit(0.95)), 4).alias("p95_exact"),
            F.percentile(c, F.lit(0.499)).alias("__m_lo"),
            F.percentile(c, F.lit(0.501)).alias("__m_hi"),
            F.percentile(c, F.lit(0.949)).alias("__p_lo"),
            F.percentile(c, F.lit(0.951)).alias("__p_hi"),
        )
        .select(
            "l_returnflag",
            "median_exact",
            "p95_exact",
            F.col("__ap")[0].between(F.col("__m_lo"), F.col("__m_hi")).alias(
                "median_in_band"
            ),
            F.col("__ap")[1].between(F.col("__p_lo"), F.col("__p_hi")).alias(
                "p95_in_band"
            ),
        )
    )


@_q(
    "q48_qualify_latest",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate DESC, o_orderkey) = 1
    """,
)
def q48(spark, sf):
    """QUALIFY shape (filter on a window result): latest order per
    customer — window + filter, no self-join."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
    return (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@_q(
    "t22_pii_scrub",
    # ORACLE: both engines append the same deterministic synthetic PII
    # (the fixture prose has none — an all-zeros scrub proves nothing),
    # then count with independent per-class regexes on the ORIGINAL text
    # and digest the sequentially-redacted text.  Patterns are
    # RE2-compatible so Java (Spark) and RE2 (DuckDB) agree exactly.
    """
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or 10.' || CAST(doc_id % 200 AS VARCHAR)
                  || '.0.1 call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(t, '\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b')) AS BIGINT) AS n_phones,
           sha256(regexp_replace(
                    regexp_replace(
                      regexp_replace(t,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                      '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '<IP>', 'g'),
                    '\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b', '<PHONE>', 'g')) AS clean_sha
    FROM aug
    """,
)
def t22(spark, sf):
    """PII scrub (email/IPv4/phone counts + redacted-text sha256) over
    deterministically PII-augmented documents
    (`operators/text.py:pii_scrub` — one JVM regex projection)."""
    from duckdb_graphar_spark.operators.text import pii_scrub

    d = _t(spark, sf, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 10."), (F.col("doc_id") % 200).cast("string"),
            F.lit(".0.1 call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    return pii_scrub(aug, text_col="t")


@_q(
    "t23_chunk_dedup",
    # ORACLE: disjoint 8-token spans via 1-based inclusive list slices.
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS tk FROM documents
    ),
    ch AS (
      SELECT doc_id,
             md5(array_to_string(tk[j*8+1 : j*8+8], ' ')) AS chunk_sha
      FROM toks,
           UNNEST(generate_series(0, CAST(ceil(len(tk) / 8.0) AS BIGINT) - 1)) AS t(j)
    ),
    pd AS (SELECT chunk_sha, doc_id, COUNT(*) AS c FROM ch GROUP BY 1, 2)
    SELECT chunk_sha, COUNT(*) AS n_docs, CAST(SUM(c) AS BIGINT) AS n_occurrences
    FROM pd GROUP BY 1 HAVING SUM(c) >= 2
    """,
)
def t23(spark, sf):
    """Coarse substring dedup: corpus table of duplicated DISJOINT
    8-token chunks (`operators/text.py:chunk_dedup`) — 1/n the exploded
    volume of overlapping n-grams, the first pass real substring-dedup
    pipelines run; shuffle carries md5 hashes, not text."""
    from duckdb_graphar_spark.operators.text import chunk_dedup

    return chunk_dedup(_t(spark, sf, "documents"))


@_q(
    "t24_quality_deciles",
    # ORACLE: t08's quality CTE + ntile over (lang, score, doc_id).
    """
    WITH x AS (
      SELECT doc_id, lang, text,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tok,
             CASE WHEN LENGTH(text) > 0
                  THEN CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                       / LENGTH(text)
                  ELSE 0.0 END AS punct
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.5 ELSE 0.0 END)
             + (CASE WHEN punct < 0.2 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN n_tok > 0
                      AND CAST(LENGTH(text) AS DOUBLE) / n_tok BETWEEN 3.0 AND 12.0
                     THEN 0.25 ELSE 0.0 END) AS score
      FROM x
    ),
    binned AS (
      SELECT lang, score,
             ntile(10) OVER (PARTITION BY lang ORDER BY score, doc_id) AS decile
      FROM scored
    )
    SELECT lang, decile, COUNT(*) AS n_docs,
           ROUND(MIN(score), 6) AS min_score, ROUND(MAX(score), 6) AS max_score
    FROM binned GROUP BY 1, 2
    """,
)
def t24(spark, sf):
    """CCNet-style per-language quality deciles (ntile with doc-id
    tiebreak → per-bucket stats, `operators/text.py:quality_deciles`)."""
    from duckdb_graphar_spark.operators.text import quality_deciles

    return quality_deciles(_t(spark, sf, "documents"))


@_q(
    "t25_skipgram_topk",
    # ORACLE: nested list comprehension generates the same ordered
    # skip-gram pairs row-locally; unique (cnt, w1, w2) ordering makes
    # the top-50 cut deterministic.
    """
    WITH toks AS (
      SELECT regexp_split_to_array(TRIM(text), '\\s+') AS tk FROM documents
    ),
    p AS (
      SELECT unnest(flatten([[tk[i] || ' ' || tk[j]
                              FOR j IN generate_series(i + 1, least(i + 3, len(tk)))]
                             FOR i IN generate_series(1, len(tk) - 1)])) AS pr
      FROM toks WHERE len(tk) >= 2
    ),
    c AS (SELECT pr, COUNT(*) AS cnt FROM p GROUP BY pr)
    SELECT split_part(pr, ' ', 1) AS w1, split_part(pr, ' ', 2) AS w2, cnt
    FROM c ORDER BY cnt DESC, w1, w2 LIMIT 50
    """,
)
def t25(spark, sf):
    """word2vec-style skip-gram context pairs (window ≤3), global top-50
    (`operators/text.py:skipgram_topk`) — row-local pair generation, one
    map-combinable groupBy, TakeOrderedAndProject cut."""
    from duckdb_graphar_spark.operators.text import skipgram_topk

    return skipgram_topk(_t(spark, sf, "documents"))


@_q(
    "d04_containment_pairs",
    # ORACLE: exhaustive asymmetric containment |A∩B|/|A| over distinct
    # word-bigram shingle sets, both directions, threshold 0.6.
    """
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS s
      FROM toks WHERE len(w) >= 2
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6) AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6) >= 0.6
    """,
)
def d04(spark, sf):
    """Asymmetric containment near-dup (|A∩B|/|A| ≥ 0.6) — catches
    short-doc-inside-long-doc duplication Jaccard scores near zero
    (`operators/dedup.py:containment_pairs`; exhaustive verifier here,
    LSH-candidate-fed at scale)."""
    from duckdb_graphar_spark.operators.dedup import containment_pairs
    from duckdb_graphar_spark.operators.text import token_count

    d = _t(spark, sf, "documents").filter(token_count(F.col("text")) >= 2)
    return containment_pairs(d, k=2, threshold=0.6)


@_q(
    "u01_udtf_tokens",
    """
    SELECT doc_id, CAST(generate_subscripts(l, 1) - 1 AS INT) AS idx, unnest(l) AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    """,
)
def u01(spark, sf):
    """Python UDTF (Spark 4 @udtf, §2.D 'table function' row): tokenize
    each document into an ordered (doc_id, idx, token) stream via a
    lateral join — ARROW-OPTIMIZED (useArrow=True), so even the
    table-function surface stays off the row-at-a-time tier (pinned by
    tests/test_plan_hygiene.py across the whole registry); the built-in
    equivalent is posexplode(split(...)) (used by t01/t07)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, idx int, token string", useArrow=True)
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            for i, tok in enumerate((text or "").split(" ")):
                yield doc_id, i, tok

    spark.udtf.register("ga_tokenize", Tokenize)
    _t(spark, sf, "documents").createOrReplaceTempView("__u01_docs")
    return spark.sql(
        "SELECT t.doc_id, t.idx, t.token FROM __u01_docs d, "
        "LATERAL ga_tokenize(d.doc_id, d.text) t"
    )


@_q(
    "u08_polymorphic_udtf",
    # ORACLE: the word trigram columns recomputed with list ops — the
    # SCHEMA itself (w0..w2 from the literal n=3) is part of what's
    # checked, since the driver compares column names: an analyze()
    # bug that emits the wrong arity can't pass.
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    )
    SELECT doc_id,
           CAST(p AS INTEGER) AS pos,
           ws[CAST(p AS INTEGER) + 1] AS w0,
           ws[CAST(p AS INTEGER) + 2] AS w1,
           ws[CAST(p AS INTEGER) + 3] AS w2
    FROM t, UNNEST(generate_series(0, len(ws) - 3)) AS u(p)
    WHERE len(ws) >= 3
    """,
)
def u08(spark, sf):
    """POLYMORPHIC Python UDTF (Spark 4 static `analyze`): the output
    schema is computed at PLAN TIME from the literal n argument —
    n=3 ⇒ columns (doc_id, pos, w0, w1, w2) — the table-function
    feature u01's fixed-schema tokenizer can't show (DuckDB's own
    table functions are schema-polymorphic the same way, e.g.
    read_vertices' column set depends on the YAML argument;
    `src/functions/table/read_vertices.cpp` binds schema per call).
    Arrow-optimized; the eval emits word n-gram COLUMNS per position."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class NGramCols:
        @staticmethod
        def analyze(
            doc_id: AnalyzeArgument, text: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            if not n.isConstantExpression or not isinstance(n.value, int):
                raise ValueError("n must be a constant integer")
            schema = (
                StructType()
                .add("doc_id", LongType())
                .add("pos", IntegerType())
            )
            for i in range(n.value):
                schema = schema.add(f"w{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, doc_id: int, text: str, n: int):
            toks = (text or "").split(" ")
            for p in range(len(toks) - n + 1):
                yield (doc_id, p, *toks[p : p + n])

    polymorphic = udtf(NGramCols, useArrow=True)
    spark.udtf.register("ga_ngram_cols", polymorphic)
    _t(spark, sf, "documents").createOrReplaceTempView("__u08_docs")
    return spark.sql(
        "SELECT t.* FROM __u08_docs d, "
        "LATERAL ga_ngram_cols(d.doc_id, d.text, 3) t"
    )


@_q(
    "c01_demo_function",
    "SELECT c_custkey, 'DuckDB_Graphar ' || c_name || ' \U0001F425' AS greeting FROM customer",
)
def c01(spark, sf):
    """Reference demo scalar `duckdb_graphar(name)`
    (`src/duckdb_graphar_extension.cpp:23-34`)."""
    from duckdb_graphar_spark.functions import duckdb_graphar

    return _t(spark, sf, "customer").select(
        "c_custkey", duckdb_graphar(F.col("c_name")).alias("greeting")
    )


# ---------------------------------------------------------------------------
# §2.C graph operators (edges derived from orders — SQL-expressible)
# ---------------------------------------------------------------------------


@_q("g01_one_hop", f"WITH e AS ({_E_SQL}) SELECT src, dst FROM e WHERE src = 42")
def g01(spark, sf):
    from duckdb_graphar_spark.operators.graph import one_hop

    return one_hop(_edges(spark, sf), 42, src_col="src", dst_col="dst")


@_q(
    "g02_degrees",
    f"""
    WITH e AS ({_E_SQL})
    SELECT COALESCE(cnt, 0) AS degree, c_custkey AS grapharId
    FROM customer LEFT JOIN (SELECT src, COUNT(*) AS cnt FROM e GROUP BY src) d
      ON d.src = c_custkey
    """,
)
def g02(spark, sf):
    from duckdb_graphar_spark.operators.graph import degrees

    verts = _t(spark, sf, "customer").select(F.col("c_custkey").alias("v"))
    return degrees(_edges(spark, sf), verts, src_col="src", vid_col="v")


@_q(
    "g03_max_degree",
    f"""
    WITH e AS ({_E_SQL})
    SELECT MAX(cnt) AS max_degree FROM (SELECT COUNT(*) AS cnt FROM e GROUP BY src)
    """,
)
def g03(spark, sf):
    from duckdb_graphar_spark.operators.graph import degrees

    return degrees(_edges(spark, sf), src_col="src").agg(
        F.max("degree").alias("max_degree")
    )


@_q(
    "g04_degree_distribution",
    f"""
    WITH e AS ({_E_SQL}),
    d AS (SELECT COALESCE(cnt, 0) AS degree
          FROM customer LEFT JOIN (SELECT src, COUNT(*) AS cnt FROM e GROUP BY src) x
            ON x.src = c_custkey)
    SELECT degree, COUNT(*) AS n_vertices FROM d GROUP BY degree
    """,
)
def g04(spark, sf):
    from duckdb_graphar_spark.operators.graph import degrees

    verts = _t(spark, sf, "customer").select(F.col("c_custkey").alias("v"))
    return (
        degrees(_edges(spark, sf), verts, src_col="src", vid_col="v")
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


@_q(
    "g05_two_hop",
    f"""
    WITH e AS ({_E_SQL}), h AS (SELECT dst FROM e WHERE src = 42)
    SELECT src, dst FROM e WHERE src = 42
    UNION ALL
    SELECT e2.src, e2.dst FROM h JOIN e e2 ON e2.src = h.dst
    """,
)
def g05(spark, sf):
    from duckdb_graphar_spark.operators.graph import two_hop

    return two_hop(_edges(spark, sf), 42, src_col="src", dst_col="dst")


@_q(
    "g06_one_more_hop",
    f"""
    WITH e AS ({_E_SQL}), h AS (SELECT DISTINCT dst FROM e WHERE src = 42)
    SELECT src, dst FROM e WHERE src = 42
    UNION ALL
    SELECT e2.src, e2.dst FROM e e2
    WHERE e2.src IN (SELECT dst FROM h) AND e2.dst IN (SELECT dst FROM h)
    """,
)
def g06(spark, sf):
    from duckdb_graphar_spark.operators.graph import one_more_hop

    return one_more_hop(_edges(spark, sf), 42, src_col="src", dst_col="dst")


@_q(
    "g07_bfs_length",
    f"""
    WITH RECURSIVE e AS ({_E_SQL}),
    walk(v, d) AS (
      SELECT CAST(0 AS BIGINT) AS v, 0 AS d
      UNION
      SELECT e.dst, walk.d + 1 FROM walk JOIN e ON e.src = walk.v WHERE walk.d < 8
    )
    SELECT CAST(0 AS BIGINT) AS src_vid, CAST(777 AS BIGINT) AS dst_vid,
           CAST(COALESCE((SELECT MIN(d) FROM walk WHERE v = 777), -1) AS INT) AS length
    """,
)
def g07(spark, sf):
    from duckdb_graphar_spark.operators.graph import bfs_length

    n = bfs_length(_edges(spark, sf), 0, 777, src_col="src", dst_col="dst", max_depth=8)
    return spark.createDataFrame([(0, 777, n)], "src_vid long, dst_vid long, length int")


@_q(
    "g08_bfs_exist",
    f"""
    WITH RECURSIVE e AS ({_E_SQL}),
    walk(v, d) AS (
      SELECT CAST(0 AS BIGINT) AS v, 0 AS d
      UNION
      SELECT e.dst, walk.d + 1 FROM walk JOIN e ON e.src = walk.v WHERE walk.d < 8
    )
    SELECT CAST(0 AS BIGINT) AS src_vid, CAST(777 AS BIGINT) AS dst_vid,
           EXISTS (SELECT 1 FROM walk WHERE v = 777) AS reachable
    """,
)
def g08(spark, sf):
    from duckdb_graphar_spark.operators.graph import bfs_exist

    ok = bfs_exist(_edges(spark, sf), 0, 777, src_col="src", dst_col="dst", max_depth=8)
    return spark.createDataFrame([(0, 777, ok)], "src_vid long, dst_vid long, reachable boolean")


@_q(
    "g09_pagerank",
    # ORACLE: the two fixed iterations unrolled.  Each edge contribution
    # is ONE double division cast to DECIMAL(38,18) (exact, order-
    # independent sums); published ranks round to 12 — both engines run
    # the identical IEEE op sequence, so the replay is bit-exact.
    # Dangling mass is not redistributed (variant pinned in the operator
    # docstring).
    f"""
    WITH e AS ({_E_SQL}),
    v AS (SELECT c_custkey AS id FROM customer),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM customer),
    od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT c FROM n) AS r FROM v),
    s1 AS (SELECT e.dst AS id, SUM(CAST(r0.r / od.d AS DECIMAL(38,18))) AS s
           FROM e JOIN od USING (src) JOIN r0 ON r0.id = e.src GROUP BY e.dst),
    r1 AS (SELECT v.id,
                  ROUND(CAST(0.15 AS DOUBLE) / (SELECT c FROM n)
                        + CAST(0.85 AS DOUBLE)
                          * CAST(COALESCE(s1.s, CAST(0 AS DECIMAL(38,18))) AS DOUBLE),
                        12) AS r
           FROM v LEFT JOIN s1 USING (id)),
    s2 AS (SELECT e.dst AS id, SUM(CAST(r1.r / od.d AS DECIMAL(38,18))) AS s
           FROM e JOIN od USING (src) JOIN r1 ON r1.id = e.src GROUP BY e.dst),
    r2 AS (SELECT v.id,
                  ROUND(CAST(0.15 AS DOUBLE) / (SELECT c FROM n)
                        + CAST(0.85 AS DOUBLE)
                          * CAST(COALESCE(s2.s, CAST(0 AS DECIMAL(38,18))) AS DOUBLE),
                        12) AS r
           FROM v LEFT JOIN s2 USING (id))
    SELECT id, r AS pagerank FROM r2
    """,
)
def g09(spark, sf):
    """PageRank, 2 fixed iterations, damping 0.85
    (`operators/graph.py:pagerank`) — per iteration one ranks⋈edges
    shuffle join plus one map-combinable decimal groupBy(dst)."""
    from duckdb_graphar_spark.operators.graph import pagerank

    v = _t(spark, sf, "customer").select(F.col("c_custkey").alias("id"))
    return pagerank(
        _edges(spark, sf), v, n_iters=2, src_col="src", dst_col="dst"
    )


@_q(
    "g11_connected_components",
    # ORACLE: symmetric-closure reachability is an equivalence relation,
    # so each vertex's component label is the MIN id it can reach
    # (recursive CTE with UNION dedup — state bounded by |V|·depth).
    f"""
    WITH RECURSIVE e AS ({_E_SQL}),
    sym AS (SELECT src AS u, dst AS w FROM e UNION SELECT dst, src FROM e),
    r(v, w) AS (
      SELECT c_custkey, c_custkey FROM customer
      UNION
      SELECT r.v, s.w FROM r JOIN sym s ON s.u = r.w
    )
    SELECT v AS id, MIN(w) AS component FROM r GROUP BY v
    """,
)
def g11(spark, sf):
    """Undirected connected components by min-label propagation with the
    adaptive driver union-find fast path
    (`operators/dedup.py:connected_components` — the same engine that
    merges MinHash near-dup clusters, exposed on the order graph)."""
    from duckdb_graphar_spark.operators.dedup import connected_components

    e = _edges(spark, sf).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    v = _t(spark, sf, "customer").select(F.col("c_custkey").alias("v"))
    return connected_components(e, v).select(
        F.col("v").alias("id"), F.col("label").alias("component")
    )


@_q(
    "g12_bfs_levels",
    # ORACLE: min-depth per reachable vertex via a deduping recursive
    # CTE (UNION keeps state |V|·depth, not path-count), then histogram.
    f"""
    WITH RECURSIVE e AS ({_E_SQL}),
    walk(v, d) AS (
      SELECT CAST(0 AS BIGINT) AS v, 0 AS d
      UNION
      SELECT e.dst, walk.d + 1 FROM walk JOIN e ON e.src = walk.v WHERE walk.d < 6
    ),
    md AS (SELECT v, MIN(d) AS d FROM walk GROUP BY v)
    SELECT CAST(d AS INTEGER) AS depth, COUNT(*) AS n_vertices
    FROM md GROUP BY d
    """,
)
def g12(spark, sf):
    """BFS level profile from vertex 0 (vertices first reached per
    depth, `operators/graph.py:bfs_levels`)."""
    from duckdb_graphar_spark.operators.graph import bfs_levels

    return bfs_levels(
        _edges(spark, sf), 0, src_col="src", dst_col="dst", max_depth=6
    )


@_q(
    "g10_triangle_count",
    # ORACLE: canonical a<b undirected simple edges, oriented two-join.
    f"""
    WITH e AS ({_E_SQL}),
    c AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM e WHERE src <> dst)
    SELECT COUNT(*) AS n_triangles
    FROM c e1 JOIN c e2 ON e1.b = e2.a JOIN c e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def g10(spark, sf):
    """Global triangle count via degree-safe a<b orientation
    (`operators/graph.py:triangle_count`)."""
    from duckdb_graphar_spark.operators.graph import triangle_count

    return triangle_count(_edges(spark, sf), src_col="src", dst_col="dst")


# ---------------------------------------------------------------------------
# GraphAr round-trip queries: write the orders-derived graph in GraphAr
# layout, read it back through the real reader, verify against SQL.
# ---------------------------------------------------------------------------

_GRAPHAR_CACHE: dict[str, str] = {}


def _orders_graphar(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir) a GraphAr graph whose content is exactly
    derivable from the customer/orders tables, so reader output is
    DuckDB-oracle-checkable."""
    if sf_dir in _GRAPHAR_CACHE:
        return _GRAPHAR_CACHE[sf_dir]
    from duckdb_graphar_spark.graphar.spark_writer import write_graph_dist

    out = os.path.join(
        tempfile.gettempdir(), "graphar_orders_" + re.sub(r"\W", "_", sf_dir)
    )
    gy = os.path.join(out, "OrdersGraph.yaml")
    sentinel = os.path.join(out, ".complete")
    if os.path.exists(gy) and os.path.exists(sentinel):
        # built by an earlier process against the same sf_dir (testdata is
        # immutable); the sentinel is written only after a full build
        _GRAPHAR_CACHE[sf_dir] = gy
        return gy
    # Distributed build — no driver-side materialization: the vertex and
    # edge tables stay DataFrames end-to-end and each GraphAr chunk is
    # written by the executor that owns it (spark_writer.write_graph_dist).
    # c_custkey is dense 0..n-1 in the testdata, so it IS the vertex index.
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("_graphArVertexIndex"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.date_add(
            F.lit("2020-01-01").cast("date"),
            (F.col("c_custkey") % 1460).cast("int"),
        ).alias("signup_date"),
    ).cache()  # counted here for the edge modulus AND inside the writer
    n = cust.count()
    edges = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("_graphArSrcIndex"),
        (F.col("o_orderkey").cast("long") % n).alias("_graphArDstIndex"),
    )
    try:
        gy = write_graph_dist(
            out,
            "OrdersGraph",
            {"Customer": cust},
            {("Customer", "ordered", "Customer"): edges},
            vertex_chunk_size=512,
            edge_chunk_size=2048,
            aligned_chunk_size=512,
            vertex_property_groups={
                "Customer": [["name", "nationkey"], ["acctbal", "mktsegment", "signup_date"]]
            },
        )
    finally:
        cust.unpersist(blocking=False)
    with open(sentinel, "w") as f:
        f.write("ok")
    _GRAPHAR_CACHE[sf_dir] = gy
    return gy


@_q(
    "ga01_read_vertices",
    """
    SELECT c_custkey AS _graphArVertexIndex, c_name AS name,
           c_nationkey AS nationkey, c_acctbal AS acctbal,
           c_mktsegment AS mktsegment,
           (DATE '2020-01-01' + CAST(c_custkey % 1460 AS INT)) AS signup_date
    FROM customer
    """,
)
def ga01(spark, sf):
    from duckdb_graphar_spark.graphar import read_vertices

    return read_vertices(spark, _orders_graphar(spark, sf), "Customer")


@_q(
    "ga02_read_edges",
    f"WITH e AS ({_E_SQL}) SELECT src AS _graphArSrcIndex, dst AS _graphArDstIndex FROM e",
)
def ga02(spark, sf):
    from duckdb_graphar_spark.graphar import read_edges

    return read_edges(spark, _orders_graphar(spark, sf), "Customer", "ordered", "Customer")


@_q(
    "ga03_edges_point_lookup",
    f"""
    WITH e AS ({_E_SQL})
    SELECT src AS _graphArSrcIndex, dst AS _graphArDstIndex FROM e WHERE src = 42
    """,
)
def ga03(spark, sf):
    from duckdb_graphar_spark.graphar import read_edges

    return read_edges(
        spark, _orders_graphar(spark, sf), "Customer", "ordered", "Customer", src_vid=42
    )


@_q(
    "ga04_vertex_point_lookup",
    """
    SELECT c_custkey AS _graphArVertexIndex, c_name AS name, c_nationkey AS nationkey,
           c_acctbal AS acctbal, c_mktsegment AS mktsegment,
           (DATE '2020-01-01' + CAST(c_custkey % 1460 AS INT)) AS signup_date
    FROM customer WHERE c_custkey = 77
    """,
)
def ga04(spark, sf):
    from duckdb_graphar_spark.graphar import read_vertices

    return read_vertices(spark, _orders_graphar(spark, sf), "Customer", vid=77)


@_q(
    "ga05_degrees_from_offsets",
    f"""
    WITH e AS ({_E_SQL})
    SELECT COALESCE(cnt, 0) AS degree, c_custkey AS grapharId
    FROM customer LEFT JOIN (SELECT src, COUNT(*) AS cnt FROM e GROUP BY src) d
      ON d.src = c_custkey
    """,
)
def ga05(spark, sf):
    from duckdb_graphar_spark.operators.graph import degrees_from_offsets

    return degrees_from_offsets(
        spark, _orders_graphar(spark, sf), "Customer", "ordered", "Customer"
    )


@_q(
    "ga10_datasource_scan",
    f"""
    WITH e AS ({_E_SQL})
    SELECT src AS _graphArSrcIndex, dst AS _graphArDstIndex FROM e WHERE src = 42
    """,
)
def ga10(spark, sf):
    """`format("graphar")` Python Data Source: the pushed src-equality
    filter prunes input partitions at planning time (datasource.py)."""
    from duckdb_graphar_spark.graphar.datasource import register

    register(spark)
    return (
        spark.read.format("graphar")
        .option("path", _orders_graphar(spark, sf))
        .option("src", "Customer")
        .option("edge", "ordered")
        .option("dst", "Customer")
        .load()
        .filter(F.col("_graphArSrcIndex") == 42)
    )


@_q(
    "ga11_catalog_tables",
    """
    SELECT * FROM (VALUES ('Customer.vertex', 'vertex'),
                          ('Customer_ordered_Customer.edge', 'edge'),
                          ('Customer_ordered_Customer_edge', 'edge'),
                          ('Customer_vertex', 'vertex')) AS t(view_name, kind)
    """,
)
def ga11(spark, sf):
    """Catalog introspection (D7 / reference `SHOW TABLES` golden test,
    `config/test/sql/graphar/attach.test:4-16`): attach registers the
    reference-exact dotted name (`Customer.vertex` — the golden output,
    `src/utils/func.cpp:55-63`) plus an underscore alias for unquoted
    Spark SQL."""
    from duckdb_graphar_spark.graphar.catalog import attach

    registered = attach(spark, _orders_graphar(spark, sf))
    return spark.createDataFrame(
        sorted(registered.items()), "view_name string, kind string"
    )


@_q(
    "ga20_attach_view_join",
    # ORACLE: recomputed from the SOURCE tables the GraphAr fixture was
    # written from (customer/orders) — so the check spans the whole
    # writer→chunk-files→reader→catalog→SQL-join chain: a property-
    # group misalignment, an index-reconstruction bug, or a view
    # registration mixup breaks a segment aggregate.
    """
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_edges,
           COUNT(DISTINCT o.o_custkey) AS n_active,
           ROUND(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(26,8))) AS DOUBLE), 2)
               AS total_acctbal
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
)
def ga20(spark, sf):
    """The reference's documented END-USER workflow over an attached
    graph (`ATTACH ... ; SELECT ... FROM 'Person.vertex' JOIN ...` —
    `docs/usage.md`-style): plain SQL joining the catalog-registered
    vertex view (property groups zipped by computed index) with the
    edge view, aggregating edge counts / active sources / a
    decimal-exact property total per segment.  Exercises the attach
    surface as a user would — composed views, not reader calls
    (`graphar/catalog.py:attach`)."""
    from duckdb_graphar_spark.graphar.catalog import attach

    attach(spark, _orders_graphar(spark, sf))
    return spark.sql(
        """
        SELECT v.mktsegment,
               COUNT(*) AS n_edges,
               COUNT(DISTINCT e._graphArSrcIndex) AS n_active,
               ROUND(CAST(SUM(CAST(v.acctbal AS DECIMAL(26,8))) AS DOUBLE), 2)
                   AS total_acctbal
        FROM Customer_ordered_Customer_edge e
        JOIN Customer_vertex v
          ON v._graphArVertexIndex = e._graphArSrcIndex
        GROUP BY v.mktsegment
        """
    )


@_q(
    "ga12_degree_point_lookup",
    f"""
    WITH e AS ({_E_SQL})
    SELECT COUNT(*) AS degree, CAST(42 AS BIGINT) AS grapharId FROM e WHERE src = 42
    """,
)
def ga12(spark, sf):
    """Single-vertex degree from ONE offset chunk (reference `grapharId`
    equality pushdown, `edges_vertex.cpp:91-119`) — no edge scan, no
    full offset scan."""
    from duckdb_graphar_spark.operators.graph import degrees_from_offsets

    return degrees_from_offsets(
        spark, _orders_graphar(spark, sf), "Customer", "ordered", "Customer", vid=42
    )


@_q(
    "ga13_uri_point_lookup",
    f"""
    WITH e AS ({_E_SQL})
    SELECT src AS _graphArSrcIndex, dst AS _graphArDstIndex FROM e WHERE src = 42
    """,
)
def ga13(spark, sf):
    """A5 remote-storage parity: the same CSR point lookup as ga03, but
    the graph addressed by URI (file:// here; s3://, gs:// resolve
    through the same pyarrow.fs abstraction, reference
    `FileSystemFromUriOrPath` src/utils/func.cpp:124-148)."""
    from duckdb_graphar_spark.graphar import read_edges

    uri = "file://" + _orders_graphar(spark, sf)
    return read_edges(spark, uri, "Customer", "ordered", "Customer", src_vid=42)


@_q(
    "ga14_writer_roundtrip",
    # ORACLE: the graph content is fully derivable from the nation
    # table, so the written-then-re-read vertices+edges must equal this
    # self-join — a writer bug anywhere (chunking, offsets, property
    # groups, yaml) breaks the match.
    """
    WITH v AS (SELECT CAST(n_nationkey AS BIGINT) AS vid, n_name AS name,
                      n_regionkey AS rk FROM nation),
    e AS (SELECT a.vid AS src, b.vid AS dst,
                 CAST(a.vid * 100 + b.vid AS BIGINT) AS weight
          FROM v a JOIN v b ON a.rk = b.rk AND a.vid <> b.vid)
    SELECT e.src AS _graphArSrcIndex, e.dst AS _graphArDstIndex, e.weight,
           va.name AS src_name, vb.name AS dst_name
    FROM e JOIN v va ON va.vid = e.src JOIN v vb ON vb.vid = e.dst
    """,
)
def ga14(spark, sf):
    """A6 driver pin — the component that EXCEEDS the reference (its
    catalog is read-only: `src/storage/graphar_catalog.cpp:61-81`
    throws on write).  Distributed-write a same-region nation mesh with
    deliberately tiny chunk sizes (25 vertices / chunk_size 8 → 4
    vertex chunks; both CSR and CSC edge layouts + offsets), re-read it
    through the A1/A2 readers, and join edge properties to both
    endpoint names — every byte the oracle sees round-tripped through
    GraphAr chunk files written by executors."""
    import shutil

    from duckdb_graphar_spark.graphar import read_edges, read_vertices
    from duckdb_graphar_spark.graphar.spark_writer import write_graph_dist

    nat = _t(spark, sf, "nation")
    v = nat.select(
        F.col("n_nationkey").cast("long").alias("_graphArVertexIndex"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").cast("int").alias("regionkey"),
    )
    a, b = nat.alias("a"), nat.alias("b")
    e = a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") != F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_nationkey").cast("long").alias("_graphArSrcIndex"),
        F.col("b.n_nationkey").cast("long").alias("_graphArDstIndex"),
        (F.col("a.n_nationkey") * 100 + F.col("b.n_nationkey"))
        .cast("long")
        .alias("weight"),
    )
    out = tempfile.mkdtemp(prefix="ga14_roundtrip_")
    try:
        gy = write_graph_dist(
            out,
            "RegionMesh",
            {"Nation": v},
            {("Nation", "same_region", "Nation"): e},
            vertex_chunk_size=8,
            edge_chunk_size=32,
            aligned_chunk_size=8,
        )
        vr = read_vertices(spark, gy, "Nation")
        er = read_edges(spark, gy, "Nation", "same_region", "Nation")
        src_v = vr.select(
            F.col("_graphArVertexIndex").alias("__sv"),
            F.col("name").alias("src_name"),
        )
        dst_v = vr.select(
            F.col("_graphArVertexIndex").alias("__dv"),
            F.col("name").alias("dst_name"),
        )
        joined = (
            er.join(F.broadcast(src_v), F.col("_graphArSrcIndex") == F.col("__sv"))
            .join(F.broadcast(dst_v), F.col("_graphArDstIndex") == F.col("__dv"))
            .select(
                "_graphArSrcIndex", "_graphArDstIndex", "weight",
                "src_name", "dst_name",
            )
        )
        # materialize before the temp graph dir is deleted; bounded —
        # nation is a fixed 25-row table at every TPC-H scale factor
        rows = joined.collect()
        return spark.createDataFrame(
            rows,
            "`_graphArSrcIndex` long, `_graphArDstIndex` long, weight long, "
            "src_name string, dst_name string",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@_q(
    "ga06_counts_from_metadata",
    "SELECT (SELECT COUNT(*) FROM customer) AS n_vertices, (SELECT COUNT(*) FROM orders) AS n_edges",
)
def ga06(spark, sf):
    from duckdb_graphar_spark.graphar import GraphInfo

    g = GraphInfo.load(_orders_graphar(spark, sf))
    nv = g.vertex_count("Customer")
    ne = g.edge_count(g.edges[("Customer", "ordered", "Customer")])
    return spark.createDataFrame([(nv, ne)], "n_vertices long, n_edges long")


@_q(
    "ga07_edges_csc_lookup",
    f"""
    WITH e AS ({_E_SQL})
    SELECT src AS _graphArSrcIndex, dst AS _graphArDstIndex FROM e WHERE dst = 17
    """,
)
def ga07(spark, sf):
    """Point lookup on dst → reader picks the CSC (`ordered_by_dest`)
    layout and prunes to the covering adj_list chunks
    (`read_edges.cpp:85-91,114-153`)."""
    from duckdb_graphar_spark.graphar import read_edges

    return read_edges(
        spark, _orders_graphar(spark, sf), "Customer", "ordered", "Customer", dst_vid=17
    )


@_q(
    "ga08_vertices_projection",
    "SELECT c_custkey AS _graphArVertexIndex, c_name AS name, c_acctbal AS acctbal FROM customer",
)
def ga08(spark, sf):
    """Projection pushdown: only the property groups containing the
    requested columns are read (beyond reference B1, which opens every
    group reader)."""
    from duckdb_graphar_spark.graphar import read_vertices

    return read_vertices(
        spark, _orders_graphar(spark, sf), "Customer", columns=["name", "acctbal"]
    )


@_q(
    "ga09_vertices_prop_filter",
    """
    SELECT c_custkey AS _graphArVertexIndex, c_name AS name,
           c_nationkey AS nationkey, c_acctbal AS acctbal,
           c_mktsegment AS mktsegment,
           (DATE '2020-01-01' + CAST(c_custkey % 1460 AS INT)) AS signup_date
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def ga09(spark, sf):
    """Property-equality predicate (reference B4) — expressed as a plain
    `.filter` on the reader output; Catalyst pushes it into the parquet
    scans of the property-group files."""
    from duckdb_graphar_spark.graphar import read_vertices

    return read_vertices(spark, _orders_graphar(spark, sf), "Customer").filter(
        F.col("mktsegment") == "BUILDING"
    )


# ---------------------------------------------------------------------------
# §2.F text analysis / dedup
# ---------------------------------------------------------------------------


@_q(
    "t01_token_counts",
    """
    SELECT doc_id,
           CASE WHEN TRIM(text) = '' THEN 0
                ELSE CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT) END AS n_tokens,
           n_chars
    FROM documents
    """,
)
def t01(spark, sf):
    from duckdb_graphar_spark.operators.text import token_count

    d = _t(spark, sf, "documents")
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"), "n_chars")


@_q(
    "t02_punct_ratio",
    """
    SELECT doc_id,
           ROUND(CASE WHEN LENGTH(text) > 0
                 THEN CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                      / LENGTH(text)
                 ELSE 0.0 END, 6) AS punct_ratio
    FROM documents
    """,
)
def t02(spark, sf):
    from duckdb_graphar_spark.operators.text import punct_ratio

    d = _t(spark, sf, "documents")
    return d.select("doc_id", F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"))


@_q(
    "t03_fingerprint",
    """
    SELECT doc_id, md5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def t03(spark, sf):
    from duckdb_graphar_spark.operators.text import fingerprint

    d = _t(spark, sf, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


@_q(
    "t04_exact_dedup",
    """
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def t04(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.groupBy(F.md5("text"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("keep_id", "dup_count")
    )


@_q(
    "t05_lang_id",
    r"""
    WITH c AS (
      SELECT doc_id, lang,
        len(regexp_extract_all(lower(text), '\b(the|and|of|to|a)\b'))   AS c_en,
        len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS c_de,
        len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b'))  AS c_fr,
        len(regexp_extract_all(lower(text), '\b(el|la|que|los|una)\b')) AS c_es
      FROM documents
    )
    SELECT doc_id,
      CASE
        WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und'
        WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en'
        WHEN c_de = greatest(c_en, c_de, c_fr, c_es) THEN 'de'
        WHEN c_fr = greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
        ELSE 'es'
      END AS lang_pred,
      lang
    FROM c
    """,
)
def t05(spark, sf):
    from duckdb_graphar_spark.operators.text import lang_id

    d = _t(spark, sf, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"), "lang")


@_q(
    "t06_minhash_clusters",
    # ORACLE: connected components over the EXACT 5-shingle-Jaccard >= 0.5
    # pair graph via a recursive CTE (min-label closure).  The Spark side
    # is LSH-banded candidates -> exact-Jaccard verify -> CC; banding has
    # full recall on this corpus (verified at sf0.001/sf0.01/sf0.1 and
    # deterministic — fixed xxhash64 seeds), so the cluster assignments
    # coincide with the exhaustive graph's.  The size prune in the join
    # condition is exact: J >= 0.5 requires 2*min(|A|,|B|) >= max(|A|,|B|).
    r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 5
                  THEN list_distinct([array_to_string(w[i:i+4], ' ') FOR i IN generate_series(1, len(w) - 4)])
                  ELSE [array_to_string(w, ' ')] END AS s
      FROM toks
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b
        ON a.doc_id < b.doc_id
       AND len(b.s) * 2 >= len(a.s)
       AND len(a.s) * 2 >= len(b.s)
      WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    ),
    edges AS (
      SELECT id_a AS u, id_b AS w FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    reach(v, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.w = r.v
    )
    SELECT v AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY v
    """,
)
def t06(spark, sf):
    from duckdb_graphar_spark.operators.dedup import minhash_dedup

    d = _t(spark, sf, "documents")
    return minhash_dedup(d, num_hashes=64, bands=16, k=5, threshold=0.5)


@_q(
    "t07_ngram_jaccard",
    """
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS s
      FROM toks WHERE len(w) >= 2
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    """,
)
def t07(spark, sf):
    """Exact word-bigram Jaccard ≥ 0.5 over all doc pairs (the
    verification stage of near-dup dedup, run exhaustively so the DuckDB
    oracle can mirror it; the scalable candidate-pruned path is
    t06/minhash)."""
    from duckdb_graphar_spark.operators.dedup import shingles

    d = _t(spark, sf, "documents")
    from duckdb_graphar_spark.operators.text import token_count

    sh = d.filter(token_count(F.col("text")) >= 2).select(
        F.col("doc_id"), shingles(F.col("text"), 2).alias("s")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    jac = F.size(F.array_intersect("sa", "sb")).cast("double") / F.size(
        F.array_union("sa", "sb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(jac >= 0.5)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


@_q(
    "t08_quality_score",
    """
    WITH x AS (
      SELECT doc_id, text,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tok,
             CASE WHEN LENGTH(text) > 0
                  THEN CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                       / LENGTH(text)
                  ELSE 0.0 END AS punct
      FROM documents
    )
    SELECT doc_id,
           (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.5 ELSE 0.0 END)
           + (CASE WHEN punct < 0.2 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN n_tok > 0
                    AND CAST(LENGTH(text) AS DOUBLE) / n_tok BETWEEN 3.0 AND 12.0
                   THEN 0.25 ELSE 0.0 END) AS quality
    FROM x
    """,
)
def t08(spark, sf):
    from duckdb_graphar_spark.operators.text import quality_score

    d = _t(spark, sf, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


@_q(
    "t09_text_stats",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe,
           ROUND(CASE WHEN len(string_split_regex(LOWER(TRIM(text)), '\\s+')) > 0
                 THEN CAST(len(list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
                                           t -> list_contains(['the','and','of','to','a'], t))) AS DOUBLE)
                      / len(string_split_regex(LOWER(TRIM(text)), '\\s+'))
                 ELSE 0.0 END, 6) AS stopword_ratio
    FROM documents
    """,
)
def t09(spark, sf):
    from duckdb_graphar_spark.operators.text import bpe_ish_token_count, stopword_ratio

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        bpe_ish_token_count(F.col("text")).alias("n_tokens_bpe"),
        F.round(stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
    )


@_q(
    "d01_embedding_neardup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.9
    """,
)
def d01(spark, sf):
    from duckdb_graphar_spark.operators.dedup import embedding_exact_pairs

    return embedding_exact_pairs(_t(spark, sf, "embeddings"), threshold=0.9)


def _subset_recall_frame(found: DataFrame, exact: DataFrame, *, bound: float = 0.6) -> DataFrame:
    """Shared oracle scaffold for blocking-stage verifiers (d02/d03):
    emits one row (n_exact_pairs, subset_ok, recall_ok) where subset_ok =
    every found pair is in the exact set and recall_ok = found covers at
    least ``bound`` of it.  The DuckDB twin computes n_exact_pairs
    exactly and hard-codes TRUE for the two bounds.

    Both inputs are referenced TWICE in the frame (their count + the
    anti-join), so each is lazily checkpointed — without it the whole
    blocking/verification/exact-join pipeline executes twice per side
    (measured ~2x on d02)."""
    found = found.localCheckpoint(eager=False)
    exact = exact.localCheckpoint(eager=False)
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    nf = found.agg(F.count(F.lit(1)).alias("__nf"))
    extra = found.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("__extra")
    )
    return (
        ne.crossJoin(nf)
        .crossJoin(extra)
        .select(
            "n_exact_pairs",
            (F.col("__extra") == 0).alias("subset_ok"),
            ((F.col("__nf") - F.col("__extra")).cast("double")
             >= F.col("n_exact_pairs") * F.lit(bound)).alias("recall_ok"),
        )
    )


@_q(
    "d02_simhash_pairs",
    # ORACLE: the simhash signature itself is engine-specific (xxhash64
    # bit-twiddling), so the check is the property that matters for a
    # blocking stage: every emitted pair is a TRUE near-dup (subset of the
    # exhaustive bigram-Jaccard >= 0.5 set, which DuckDB counts exactly)
    # and recall stays above the documented bound (observed 0.68-0.79 on
    # the fixtures; asserted >= 0.6).
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS s
      FROM toks WHERE len(w) >= 2
    ),
    exact AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    )
    SELECT COUNT(*) AS n_exact_pairs,
           TRUE AS subset_ok,
           TRUE AS recall_ok
    FROM exact
    """,
)
def d02(spark, sf):
    """SimHash blocking verified against the exhaustive near-dup set:
    candidates (hamming<=6 on 64-bit simhash over word bigrams, bucket
    cap ENGAGED at 256 — far above the fixture's max bucket of 6, so
    the capped code path runs with exact output) are
    exact-Jaccard-verified, then compared to the full O(n^2) bigram
    pair set — emitting (n_exact_pairs, subset_ok, recall_ok).  The
    exact side packs each doc's bigram set into a vocabulary bitmap
    (popcount arithmetic, `operators/dedup.py:bitmap_jaccard_pairs`)
    instead of per-pair array_intersect — same pair set, ~20x less
    per-pair work, and the nested-loop stage is repartitioned instead
    of single-task."""
    from duckdb_graphar_spark.operators.dedup import (
        bitmap_jaccard_pairs,
        ngram_jaccard_pairs,
        shingles,
        simhash_pairs,
    )
    from duckdb_graphar_spark.operators.text import token_count

    d = _t(spark, sf, "documents")
    cand = simhash_pairs(d, max_hamming=6, k=2, max_bucket_size=256).select(
        "id_a", "id_b"
    )
    found = ngram_jaccard_pairs(d, cand, k=2, threshold=0.5).select("id_a", "id_b")
    # exhaustive bigram-Jaccard pair set, exactly the t07 shape (mirrors
    # the oracle's `WHERE len(w) >= 2` doc restriction)
    sh = d.filter(token_count(F.col("text")) >= 2).select(
        F.col("doc_id"), shingles(F.col("text"), 2).alias("__s")
    )
    # restrict the candidate side to the SAME >=2-token universe as the
    # exact set — identical sub-bigram docs would otherwise show up as
    # found-but-not-exact and falsely flip subset_ok
    ids = sh.select("doc_id")
    found = (
        found.join(ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
    )
    exact = bitmap_jaccard_pairs(
        sh, id_col="doc_id", set_col="__s", threshold=0.5
    ).select("id_a", "id_b")
    return _subset_recall_frame(found, exact)


@_q(
    "d03_embedding_lsh_neardup",
    # ORACLE: same verification pattern as d02 — DuckDB counts the exact
    # cosine >= 0.9 pair set; Spark asserts the hyperplane-LSH candidates
    # are a subset with recall >= 0.6 of it.
    """
    SELECT COUNT(*) AS n_exact_pairs,
           TRUE AS subset_ok,
           TRUE AS recall_ok
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.9
    """,
)
def d03(spark, sf):
    """Hyperplane-LSH near-dup pairs verified against the exact O(n^2)
    cosine pair set — emits (n_exact_pairs, subset_ok, recall_ok)."""
    from duckdb_graphar_spark.operators.dedup import (
        embedding_exact_pairs,
        embedding_near_dup_pairs,
    )

    e = _t(spark, sf, "embeddings")
    found = embedding_near_dup_pairs(e, threshold=0.9, n_planes=8).select("id_a", "id_b")
    exact = embedding_exact_pairs(e, threshold=0.9).select("id_a", "id_b")
    return _subset_recall_frame(found, exact)


# ---------------------------------------------------------------------------
# §2.F similarity search
# ---------------------------------------------------------------------------


@_q(
    "s01_topk_cosine",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3)
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT q.query_id,
             e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6) AS cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6) DESC,
                                         e.vec_id) AS rank
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != q.query_id
    ) WHERE rank <= 5
    """,
)
def s01(spark, sf):
    from duckdb_graphar_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return brute_force_topk(e, q, k=5)


@_q(
    "s14_mips_topk",
    # ORACLE: exact inner-product ordering with the same rounded-score
    # window discipline as s01 (round-6 score is also the sort key on
    # both engines, ties by neighbor id).
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3)
    SELECT query_id, neighbor_id, inner_product, rank FROM (
      SELECT q.query_id,
             e.vec_id AS neighbor_id,
             ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6) AS inner_product,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6) DESC,
                                         e.vec_id) AS rank
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != q.query_id
    ) WHERE rank <= 5
    """,
)
def s14(spark, sf):
    """Maximum Inner Product Search top-k (the recommender-retrieval
    metric — popularity lives in the norm, cosine would erase it):
    broadcast queries, shuffle-free scoring map, per-query window
    top-k.  The operator also carries the Shrivastava-Li MIPS→cosine
    norm-augmentation reduction (method='augmented') so any cosine ANN
    index serves MIPS unchanged at scale
    (`operators/similarity.py:mips_topk`)."""
    from duckdb_graphar_spark.operators.similarity import mips_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return mips_topk(e, q, k=5)


@_q(
    "s15_knn_label_purity",
    # ORACLE: s01's exact rounded-cosine top-k discipline + label joins
    # — per label, how many of each probe's 5 nearest neighbors share
    # its label (all-integer outputs, the embedding-quality QA metric).
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
               FROM embeddings WHERE vec_id < 50),
    nn AS (
      SELECT query_id, ql, neighbor_id FROM (
        SELECT q.query_id, q.ql, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                       CAST(q.qv AS DOUBLE[])), 6) DESC,
                          e.vec_id) AS rank
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != q.query_id
      ) WHERE rank <= 5
    )
    SELECT CAST(n.ql AS BIGINT) AS label,
           CAST(COUNT(DISTINCT n.query_id) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN e.label = n.ql THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits
    FROM nn n JOIN embeddings e ON e.vec_id = n.neighbor_id
    GROUP BY n.ql
    """,
)
def s15(spark, sf):
    """k-NN label purity — the standard embedding-quality QA: for 50
    probe vectors, how many of each probe's 5 exact nearest neighbors
    share its class label, aggregated per label.  A collapsed or
    poorly-separated embedding space scores near-chance; this is the
    eval loop run after every retraining.  Reuses the broadcast-query
    scoring map (`operators/similarity.py:brute_force_topk`) + two
    broadcast label joins; all-integer outputs, exact oracle."""
    from duckdb_graphar_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf, "embeddings")
    # TWO corpus passes total (r12's shape paid four): (1) ONE filtered
    # probe scan — vec_id < 50 pushed to the parquet scan — feeds both
    # the query vectors and the query labels (eager checkpoint of the
    # 50-row result so the two consumers share that single scan);
    # (2) ONE full scoring scan that CARRIES each neighbor's label
    # through the top-k instead of re-joining the corpus on neighbor_id
    # afterwards (the post-hoc join was a full (vec_id,label) re-scan).
    probe = (
        e.filter(F.col("vec_id") < 50)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            F.col("label").alias("__ql"),
        )
        .localCheckpoint(eager=True)
    )
    nn = brute_force_topk(
        e.select("vec_id", "embedding", F.col("label").alias("__nl")),
        probe.select("query_id", "query_vec"),
        k=5,
        carry_cols=["__nl"],
    )
    return (
        nn.join(F.broadcast(probe.select("query_id", "__ql")), "query_id")
        .groupBy(F.col("__ql").cast("long").alias("label"))
        .agg(
            F.count_distinct("query_id").cast("long").alias("n_probes"),
            F.sum(F.when(F.col("__nl") == F.col("__ql"), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )
    )


_S_TOPK_ORACLE = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3)
    SELECT query_id, neighbor_id, cosine_sim, rank, TRUE AS approx_ok FROM (
      SELECT q.query_id,
             e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6) AS cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6) DESC,
                                         e.vec_id) AS rank
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != q.query_id
    ) WHERE rank <= 5
    """


def _approx_topk_vs_exact(spark, sf, approx_fn, *, k: int = 5, bound: float = 0.6):
    """Recall-style oracle harness for approximate top-k: emit the EXACT
    brute-force top-k rows (value-checked against DuckDB, same as s01)
    plus `approx_ok` = the approximate result's per-query similarity mass
    is >= ``bound`` x the exact optimum.  The ANN result itself can't be
    hash-compared across engines (approximate by construction); what CAN
    be checked is the exact optimum it is measured against and the
    quality bound it must clear (observed ratios 0.71-0.99 on the
    fixtures; the bound leaves margin while still catching a broken
    bucketing that returns garbage or nothing)."""
    from duckdb_graphar_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(e, q, k=k)
    approx = approx_fn(e, q)
    esum = exact.groupBy("query_id").agg(F.sum("cosine_sim").alias("__esum"))
    asum = approx.groupBy("query_id").agg(F.sum("cosine_sim").alias("__asum"))
    ok = esum.join(asum, "query_id", "left").select(
        "query_id",
        (
            F.coalesce(F.col("__asum"), F.lit(0.0)) >= F.col("__esum") * F.lit(bound)
        ).alias("approx_ok"),
    )
    return exact.join(ok, "query_id").select(
        "query_id", "neighbor_id", "cosine_sim", "rank", "approx_ok"
    )


@_q("s02_lsh_topk", _S_TOPK_ORACLE)
def s02(spark, sf):
    from duckdb_graphar_spark.operators.similarity import lsh_topk

    return _approx_topk_vs_exact(
        spark, sf, lambda e, q: lsh_topk(e, q, k=5, n_planes=6)
    )


@_q(
    "m01_image_features",
    # ORACLE: the fake tier is GONE — m01 now runs the REAL BMP path
    # end to end (encode_text_bmp render → decode_image parse →
    # average_hash), and the oracle recomputes every output straight
    # from the text, never seeing the BMP bytes: w = 1+L%16,
    # h = 1+id%12, pixel byte i (top-down BGR) = text byte i mod L;
    # n_bytes = 54-byte header + 4-byte-padded stride × h;
    # mean_intensity = exact byte sum / (3wh) (single IEEE division on
    # both engines); phash = the integer-exact average hash — sample
    # (i,j) of the 8×8 nearest-neighbor grid is the 3-channel byte sum
    # at (y,x) = (i·h//8, j·w//8), bit set iff 64·sample > Σsamples
    # (exact integer comparison, no float ties), packed MSB-first with
    # the sign bit folded via two's complement.
    """
    WITH d0 AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS L,
             1 + (octet_length(encode(text)) % 16) AS w,
             1 + (doc_id % 12) AS h
      FROM documents
    ),
    px AS (
      SELECT d0.doc_id,
             SUM(ord(substring(text, CAST((t.i % L) + 1 AS INTEGER), 1))) AS s
      FROM d0, UNNEST(generate_series(0, CAST(w AS BIGINT) * h * 3 - 1)) AS t(i)
      GROUP BY d0.doc_id
    ),
    samp AS (
      SELECT doc_id, k,
             ord(substring(text, CAST((p % L) + 1 AS INTEGER), 1))
             + ord(substring(text, CAST(((p + 1) % L) + 1 AS INTEGER), 1))
             + ord(substring(text, CAST(((p + 2) % L) + 1 AS INTEGER), 1)) AS tri
      FROM (
        SELECT doc_id, text, L, t.k AS k,
               ((((t.k // 8) * h) // 8) * w + (((t.k % 8) * w) // 8)) * 3 AS p
        FROM d0, UNNEST(generate_series(0, 63)) AS t(k)
      )
    ),
    tot AS (SELECT doc_id, SUM(tri) AS total FROM samp GROUP BY doc_id),
    ph AS (
      SELECT s.doc_id,
             CAST(SUM(CASE
               WHEN 64 * s.tri > o.total AND s.k = 0
                 THEN CAST(-9223372036854775808 AS HUGEINT)
               WHEN 64 * s.tri > o.total
                 THEN CAST(CAST(1 AS BIGINT) << CAST(63 - s.k AS INTEGER) AS HUGEINT)
               ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS phash
      FROM samp s JOIN tot o USING (doc_id) GROUP BY s.doc_id
    )
    SELECT d0.doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(54 + (((3 * w + 3) // 4) * 4) * h AS BIGINT) AS n_bytes,
           CAST(px.s AS DOUBLE) / (3 * w * h) AS mean_intensity,
           ph.phash AS phash
    FROM d0 JOIN px USING (doc_id) JOIN ph USING (doc_id)
    """,
)
def m01(spark, sf):
    """Generic image-feature extraction over the REAL decode path (the
    fake tier is retired): documents rendered as genuine 24-bpp BMPs
    (`operators/multimodal.py:encode_text_bmp`), then
    `extract_image_features` magic-dispatches to `decode_bmp` and
    computes width/height/n_bytes/mean/average-hash from genuinely
    decoded pixels.  The hash threshold is exact integer arithmetic
    (64·sample vs Σsamples), so the 64-bit fingerprint is
    SQL-replayable with zero float-tie hazard.  Two Arrow-batched
    mapInPandas stages, no shuffle."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_bmp,
        extract_image_features,
    )

    return extract_image_features(encode_text_bmp(_t(spark, sf, "documents")))


@_q(
    "m03_payload_stats",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS digest
    FROM documents
    """,
)
def m03(spark, sf):
    """Binary-column stats entirely on the opaque payload (byte length +
    content digest) — the multimodal bookkeeping pass that needs no
    decoder, JVM-side, fully oracle-checked (unlike the stubbed-decoder
    m01/m02)."""
    d = _t(spark, sf, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return d.select(
        "doc_id",
        F.length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("digest"),
    )


@_q(
    "m04_bmp_channel_stats",
    # ORACLE: the BMP payload is a deterministic render of the text
    # (pixel byte i = text byte i mod L, w = 1+L%16, h = 1+doc_id%12), so
    # per-channel pixel means are computable straight from the text —
    # independently of the struct-packed BMP bytes the Spark side
    # actually parses (headers, 4-byte row padding, bottom-up rows).
    """
    WITH px AS (
      SELECT d.doc_id, d.text,
             1 + (octet_length(encode(d.text)) % 16) AS w,
             1 + (d.doc_id % 12) AS h,
             octet_length(encode(d.text)) AS L,
             t.i AS i
      FROM documents d,
           UNNEST(generate_series(0, (1 + (octet_length(encode(d.text)) % 16))
                                     * (1 + (d.doc_id % 12)) * 3 - 1)) AS t(i)
    )
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           ROUND(CAST(SUM(CASE WHEN i % 3 = 0
                      THEN ord(substring(text, CAST((i % L) + 1 AS INTEGER), 1)) END)
                 AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b,
           ROUND(CAST(SUM(CASE WHEN i % 3 = 1
                      THEN ord(substring(text, CAST((i % L) + 1 AS INTEGER), 1)) END)
                 AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
           ROUND(CAST(SUM(CASE WHEN i % 3 = 2
                      THEN ord(substring(text, CAST((i % L) + 1 AS INTEGER), 1)) END)
                 AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r
    FROM px GROUP BY doc_id
    """,
)
def m04(spark, sf):
    """REAL image decode, no fake left: render every document as a
    genuine 24-bpp BMP (struct-packed headers, padded bottom-up rows),
    then recover width/height/per-channel means by actually parsing the
    binary (`operators/multimodal.py:decode_bmp`).  Both halves are
    Arrow-batched mapInPandas stages; the oracle never sees the BMP
    bytes, so a codec bug on either side breaks the match."""
    from duckdb_graphar_spark.operators.multimodal import (
        bmp_channel_stats,
        encode_text_bmp,
    )

    d = _t(spark, sf, "documents")
    return bmp_channel_stats(encode_text_bmp(d))


@_q(
    "m05_ppm_channel_stats",
    # ORACLE: same construction as m04 but for the P6 PPM codec — pixel
    # byte i = text byte (2·i) mod L, w = 1+L%13, h = 1+doc_id%9, RGB
    # channel order; computed straight from the text, never touching the
    # PPM bytes the Spark side parses.
    """
    WITH px AS (
      SELECT d.doc_id, d.text,
             1 + (octet_length(encode(d.text)) % 13) AS w,
             1 + (d.doc_id % 9) AS h,
             octet_length(encode(d.text)) AS L,
             t.i AS i
      FROM documents d,
           UNNEST(generate_series(0, (1 + (octet_length(encode(d.text)) % 13))
                                     * (1 + (d.doc_id % 9)) * 3 - 1)) AS t(i)
    )
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           ROUND(CAST(SUM(CASE WHEN i % 3 = 0
                      THEN ord(substring(text, CAST(((2 * i) % L) + 1 AS INTEGER), 1)) END)
                 AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
           ROUND(CAST(SUM(CASE WHEN i % 3 = 1
                      THEN ord(substring(text, CAST(((2 * i) % L) + 1 AS INTEGER), 1)) END)
                 AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
           ROUND(CAST(SUM(CASE WHEN i % 3 = 2
                      THEN ord(substring(text, CAST(((2 * i) % L) + 1 AS INTEGER), 1)) END)
                 AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b
    FROM px GROUP BY doc_id
    """,
)
def m05(spark, sf):
    """Second real codec end-to-end: documents rendered as binary PPM
    (ASCII header + comment line + raw RGB) and re-parsed for
    per-channel stats (`operators/multimodal.py:decode_ppm`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_ppm,
        ppm_channel_stats,
    )

    return ppm_channel_stats(encode_text_ppm(_t(spark, sf, "documents")))


@_q(
    "st01_stream_tumbling",
    # ORACLE: the stream is driven to completion (complete output mode)
    # over the bounded fixture, so the final memory-sink table equals the
    # batch tumbling aggregation — which IS SQL-expressible.  The decimal
    # sum makes the float total order-independent across micro-batches.
    """
    SELECT CAST(to_timestamp(b * 300) AS TIMESTAMP) AS window_start,
           CAST(to_timestamp(b * 300 + 300) AS TIMESTAMP) AS window_end,
           event_type, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(26,8))) AS DOUBLE), 6) AS sum_value
    FROM (SELECT CAST(FLOOR(epoch(ts) / 300) AS BIGINT) AS b, event_type, value
          FROM events)
    GROUP BY 1, 2, 3
    """,
)
def st01(spark, sf):
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        tumbling_window_agg,
    )

    stream = read_events_stream(spark, f"{sf}/events.parquet")
    return run_to_memory(tumbling_window_agg(stream, watermark="365 days"), "st01_out")


@_q(
    "st09_chained_windows",
    # ORACLE: the two-level rollup in SQL (5-min buckets re-aggregated
    # to hours), minus the windows append mode cannot emit: with a
    # 0-second watermark delay the final watermark is max(ts), so only
    # outer windows with end <= max(ts) appear in the sink.
    """
    WITH mx AS (SELECT MAX(epoch(ts)) AS m FROM events),
    i AS (SELECT CAST(FLOOR(epoch(ts) / 300) AS BIGINT) AS b5, event_type,
                 COUNT(*) AS n, SUM(CAST(value AS DECIMAL(26,8))) AS sv
          FROM events GROUP BY 1, 2),
    o AS (SELECT CAST(FLOOR(b5 * 300 / 3600) AS BIGINT) AS bh, event_type,
                 CAST(SUM(n) AS BIGINT) AS n, COUNT(*) AS n_inner_windows,
                 ROUND(CAST(SUM(sv) AS DOUBLE), 6) AS sum_value
          FROM i GROUP BY 1, 2)
    SELECT CAST(to_timestamp(bh * 3600) AS TIMESTAMP) AS window_start,
           CAST(to_timestamp(bh * 3600 + 3600) AS TIMESTAMP) AS window_end,
           event_type, n, n_inner_windows, sum_value
    FROM o WHERE bh * 3600 + 3600 <= (SELECT m FROM mx)
    """,
)
def st09(spark, sf):
    """Chained windowed aggregation (hypertable rollup): 5-minute
    tumbling reduce → 1-hour re-aggregation over window_time, run as a
    real two-stateful-operator append-mode stream
    (`streaming/ops.py:chained_window_agg`)."""
    from duckdb_graphar_spark.streaming.ops import (
        chained_window_agg,
        read_events_stream,
        run_to_memory,
    )

    stream = read_events_stream(spark, f"{sf}/events.parquet")
    return run_to_memory(
        chained_window_agg(stream, watermark="0 seconds"), "st09_out", mode="append"
    )


@_q("s03_ivf_topk", _S_TOPK_ORACLE)
def s03(spark, sf):
    from duckdb_graphar_spark.operators.similarity import ivf_topk

    return _approx_topk_vs_exact(
        spark, sf, lambda e, q: ivf_topk(e, q, k=5, n_probe=2)
    )


@_q(
    "m02_frame_sample",
    # ORACLE: the raw-stream windower is deterministic — n_frames =
    # 1 + octet_length % 5, frame payload = a 16-byte slice at the frame
    # index (ASCII text, so a VARCHAR slice re-encoded equals the byte
    # slice).  Expressed via an unnested per-row struct list because
    # generate_series can't take lateral column args.
    """
    SELECT doc_id,
           u['frame_idx'] AS frame_idx,
           u['ts_ms'] AS ts_ms,
           sha256(decode(u['frame_payload'])) AS payload_sha,
           CAST(octet_length(u['frame_payload']) AS BIGINT) AS payload_bytes
    FROM (
      SELECT doc_id,
             unnest([{'frame_idx': CAST(i AS INTEGER),
                      'ts_ms': CAST(i*1000 AS BIGINT),
                      'frame_payload': encode(substring(text, CAST(i+1 AS INTEGER), 16))}
                     FOR i IN range(0, octet_length(encode(text)) % 5 + 1)]) AS u
      FROM documents
    )
    """,
)
def m02(spark, sf):
    """Frame sampling over the RAW-stream branch of the container-aware
    sampler (non-RIFF payloads are windowed deterministically — the
    fixed-record-format pattern; RIFF AVIs take the real chunk walk,
    exercised by m08/m11).  The declared output digests the BINARY
    payload (sha256 + byte length, the m03 pattern) because the
    driver's pandas canonicalizer cannot hash bytearray cells (r3
    ERR)."""
    from duckdb_graphar_spark.operators.multimodal import sample_frames

    d = _t(spark, sf, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return sample_frames(d).select(
        "doc_id",
        "frame_idx",
        "ts_ms",
        F.sha2("frame_payload", 256).alias("payload_sha"),
        F.octet_length("frame_payload").cast("long").alias("payload_bytes"),
    )


@_q(
    "st03_session_window",
    """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) + INTERVAL '30 minutes' AS TIMESTAMP) AS session_end,
           user_id, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(26,8))) AS DOUBLE), 6) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def st03(spark, sf):
    """Batch-mode `session_window` (same transformation serves
    readStream — SURVEY §2.E); oracle = gaps-and-islands SQL."""
    from duckdb_graphar_spark.streaming.ops import session_window_agg

    return session_window_agg(_t(spark, sf, "events"), gap="30 minutes")


@_q(
    "st04_sliding_window",
    """
    SELECT CAST(to_timestamp(s) AS TIMESTAMP) AS window_start,
           CAST(to_timestamp(s + 600) AS TIMESTAMP) AS window_end,
           event_type, COUNT(*) AS n
    FROM events,
         UNNEST(generate_series(
             CAST(FLOOR(epoch_us(ts) / 1e6 / 300) * 300 - 300 AS BIGINT),
             CAST(FLOOR(epoch_us(ts) / 1e6 / 300) * 300 AS BIGINT),
             CAST(300 AS BIGINT))) AS t(s)
    GROUP BY 1, 2, 3
    """,
)
def st04(spark, sf):
    """Batch-mode sliding window (10 min window / 5 min slide): every
    event lands in exactly 2 windows; oracle enumerates them with
    generate_series."""
    from duckdb_graphar_spark.streaming.ops import sliding_window_agg

    return sliding_window_agg(
        _t(spark, sf, "events"), window="10 minutes", slide="5 minutes"
    )


@_q(
    "st06_stream_static_join",
    """
    SELECT c_mktsegment, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(26,8))) AS DOUBLE), 4) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def st06(spark, sf):
    """Stream-static join: the events STREAM enriched per micro-batch
    against the static customer dim, aggregated per segment.  Processing
    all available input makes the streaming result equal the batch join
    — so unlike st01-st05 this streaming op is fully oracle-checked."""
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_static_enrich,
    )

    stream = read_events_stream(spark, f"{sf}/events.parquet")
    enriched = stream_static_enrich(stream, _t(spark, sf, "customer"))
    return run_to_memory(enriched, "st06_out", mode="complete")


@_q(
    "st05_stateful_totals",
    # ORACLE: the fixture is a single parquet file → one micro-batch →
    # update mode emits exactly one final row per user, equal to the
    # batch per-user totals.  The pandas-side float accumulation is
    # rounded to 6 decimals on both sides.
    """
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS total_value
    FROM events GROUP BY user_id
    """,
)
def st05(spark, sf):
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stateful_user_totals,
    )

    stream = read_events_stream(spark, f"{sf}/events.parquet")
    return run_to_memory(
        stateful_user_totals(stream, watermark="365 days"), "st05_out", mode="update"
    )


@_q(
    "st02_stream_dedup",
    # ORACLE: event_ids are unique in the fixture, so the stream is
    # unioned with ITSELF (every event arrives twice, within the
    # watermark) and dropDuplicatesWithinWatermark must collapse the
    # copies back to exactly the distinct event set — a real dedup, SQL-
    # expressible as the plain table.  ts is compared as epoch µs (ns in
    # DuckDB, µs in Spark).
    """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
    FROM events
    """,
)
def st02(spark, sf):
    from duckdb_graphar_spark.streaming.ops import read_events_stream, stateful_dedup

    stream = read_events_stream(spark, f"{sf}/events.parquet")
    doubled = stream.unionAll(read_events_stream(spark, f"{sf}/events.parquet"))
    dd = stateful_dedup(doubled, keys=["event_id"], watermark="365 days")
    dd = dd.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    # drive via run_to_memory (same append-mode memory sink as the
    # inline writeStream it replaces) so the dedup's state store gets
    # the harness's size-adaptive shuffle-partition scoping
    from duckdb_graphar_spark.streaming.ops import run_to_memory

    return run_to_memory(dd, "st02_out", mode="append")


@_q(
    "t13_dup_ngram_coverage",
    # ORACLE: fully SQL-expressible — distinct per-doc word 3-grams,
    # corpus doc-frequency, per-doc duplicate coverage.  DuckDB 1.0 has
    # no lateral generate_series, so the gram list is built as a scalar
    # list_transform and unnested.
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(w)-2),
                                   i -> array_to_string(w[i:i+2], ' '))) AS gram
      FROM toks
    ),
    c AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram),
    per AS (
      SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN c.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams
      FROM g JOIN c USING (gram) GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(per.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           ROUND(COALESCE(per.n_dup_grams / CAST(per.n_grams AS DOUBLE), 0.0), 6) AS dup_frac
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def t13(spark, sf):
    """Cross-doc duplicate n-gram coverage (Lee et al. 2022 signal);
    n=3 so the small fixture vocabulary produces a non-trivial dup set."""
    from duckdb_graphar_spark.operators.text import duplicate_ngram_coverage

    return duplicate_ngram_coverage(_t(spark, sf, "documents"), n=3)


@_q(
    "t14_repetition_stats",
    # ORACLE: modal-bigram mass + distinct-token ratio, mirrored with
    # unnested bigrams and list_distinct.  n_tokens mirrors Spark's
    # token_count (trim + \s+ split).
    """
    WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w)-1),
                                   i -> array_to_string(w[i:i+1], ' '))) AS g
      FROM toks
    ),
    cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
    top AS (SELECT doc_id, MAX(c) AS top_n FROM cnt GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(CASE WHEN trim(t.text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(t.text), '\\s+')) END AS BIGINT) AS n_tokens,
           CAST(COALESCE(top.top_n, 0) AS BIGINT) AS top_bigram_n,
           ROUND(CASE WHEN n_tokens > 0
                      THEN COALESCE(top.top_n, 0) * 2 / CAST(n_tokens AS DOUBLE)
                      ELSE 0.0 END, 6) AS top_bigram_frac,
           ROUND(CASE WHEN len(t.w) > 0
                      THEN len(list_distinct(t.w)) / CAST(len(t.w) AS DOUBLE)
                      ELSE 0.0 END, 6) AS uniq_token_ratio
    FROM toks t LEFT JOIN top USING (doc_id)
    """,
)
def t14(spark, sf):
    """Within-doc repetition quality signals (Gopher §A1.1)."""
    from duckdb_graphar_spark.operators.text import repetition_stats

    return repetition_stats(_t(spark, sf, "documents"))


@_q(
    "t15_mixture_sample",
    # ORACLE: the per-domain rate is pure integer arithmetic
    # (min(4096, total*4096 // (n_domains*domain_size))) and the keep
    # decision is a lexicographic compare of md5 hex prefixes — both
    # engine-exact, so the sampled ROW SET is identical, not just its
    # statistics.
    """
    WITH dom AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS dom_sz
                 FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(dom_sz) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS nd FROM dom),
    rates AS (SELECT source,
                     CAST(LEAST(4096, (tot.tot * 4096) // (tot.nd * dom.dom_sz)) AS BIGINT) AS rate
              FROM dom, tot)
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN rates r USING (source)
    WHERE r.rate >= 4096 OR substr(md5(d.text), 1, 3) < printf('%03x', r.rate)
    """,
)
def t15(spark, sf):
    """Domain-mixture rebalancing: uniform per-source size budget via
    content-addressed downsampling (`operators/sampling.py:mixture_sample`)."""
    from duckdb_graphar_spark.operators.sampling import mixture_sample

    s = mixture_sample(
        _t(spark, sf, "documents"),
        domain_col="source",
        size_col="n_chars",
        key_col="text",
        rate_col="rate",
    )
    return s.select("doc_id", "source", F.col("rate").cast("long").alias("rate"))


@_q(
    "q53_interval_join",
    # ORACLE: plain BETWEEN join in DuckDB; the Spark side uses the
    # bucketized interval_join operator (equi-join on bucket id +
    # residual BETWEEN — no nested-loop), which must produce the exact
    # same pair set.
    """
    SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(26,8))) AS DOUBLE), 4) AS revenue
    FROM orders o JOIN lineitem l
      ON CAST(l.l_shipdate AS DATE)
         BETWEEN CAST(o.o_orderdate AS DATE) AND CAST(o.o_orderdate AS DATE) + 6
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderkey
    """,
)
def q53(spark, sf):
    """Point-in-interval join at scale: ship-date vs a 7-day window
    after each urgent order's date (`operators/interval.py`)."""
    from duckdb_graphar_spark.operators.interval import interval_join

    epoch = F.lit("1970-01-01").cast("date")
    o = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderkey",
            F.datediff(F.col("o_orderdate"), epoch).alias("start_day"),
            (F.datediff(F.col("o_orderdate"), epoch) + 6).alias("end_day"),
        )
    )
    # Pre-aggregation pushdown below the interval join: the final agg is
    # keyed only by (o_orderkey) and the match predicate only reads
    # ship_day, so collapse lineitem to per-day partials FIRST (~2.5k
    # day rows at any SF vs 600k×SF items).  The join then emits
    # |days|×|covering intervals| rows instead of |items|×|covering
    # intervals| — at sf0.1 that is 210k pairs instead of ~50M, and the
    # ratio only improves with scale since the day grain is fixed.
    # Decimal partials keep the revenue sum exact (decimal addition is
    # associative — identical to summing items directly).
    p = (
        _t(spark, sf, "lineitem")
        .select(
            F.datediff(F.col("l_shipdate"), epoch).alias("ship_day"),
            "l_extendedprice",
        )
        .groupBy("ship_day")
        .agg(
            F.count(F.lit(1)).alias("__day_n"),
            F.sum(F.col("l_extendedprice").cast("decimal(26,8)")).alias("__day_rev"),
        )
    )
    j = interval_join(
        p, o, point_col="ship_day", start_col="start_day", end_col="end_day", bucket_size=7
    )
    return j.groupBy("o_orderkey").agg(
        F.sum("__day_n").alias("n_items"),
        F.round(F.sum("__day_rev").cast("double"), 4).alias("revenue"),
    )


@_q(
    "s04_quantize_stats",
    # ORACLE: per-vector absmax int8 quantization report.  The L2 norm
    # mirrors Spark's sequential fold via list_reduce over a 0-prepended
    # squares list (same addition order → bit-identical doubles); max
    # and scale are order-independent.  err_ok is a hard invariant
    # (error <= scale/2), not a tolerance.
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
    s AS (
      SELECT vec_id, x, len(x) AS dim,
             sqrt(list_reduce(list_prepend(0.0, list_transform(x, e -> e*e)),
                              (a, b) -> a + b)) AS norm,
             list_max(list_transform(x, e -> abs(e))) / 127.0 AS scale
      FROM v
    ),
    q AS (
      SELECT *, list_transform(x, e -> LEAST(127.0, GREATEST(-127.0, round(e / scale)))) AS qv
      FROM s
    ),
    e AS (
      SELECT *, CASE WHEN scale = 0.0 THEN 0.0
                     ELSE list_max(list_transform(generate_series(1, CAST(len(x) AS INTEGER)),
                                                  i -> abs(x[i] - qv[i]*scale))) END AS err
      FROM q
    )
    SELECT vec_id, CAST(dim AS INTEGER) AS dim, ROUND(norm, 6) AS norm,
           ROUND(scale, 6) AS scale, ROUND(err, 6) AS max_abs_err,
           err <= scale/2.0 + 1e-12 AS err_ok
    FROM e
    """,
)
def s04(spark, sf):
    """Int8 embedding quantization quality report
    (`operators/embeddings.py:quantize_int8_stats`)."""
    from duckdb_graphar_spark.operators.embeddings import quantize_int8_stats

    return quantize_int8_stats(_t(spark, sf, "embeddings"))


@_q(
    "t16_decontamination",
    # ORACLE: eval set = every 101st doc; flag corpus docs whose distinct
    # 3-grams overlap the eval gram set by >= 5%.  Both engines compute
    # the same exact rational hit_frac, so the boolean is engine-stable.
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    gr AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(w)-2),
                                   i -> array_to_string(w[i:i+2], ' '))) AS gram
      FROM toks
    ),
    eg AS (SELECT DISTINCT gram FROM gr WHERE doc_id % 101 = 0),
    cg AS (SELECT doc_id, gram FROM gr WHERE doc_id % 101 <> 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM cg GROUP BY doc_id),
    hit AS (SELECT cg.doc_id, COUNT(*) AS n_hit FROM cg JOIN eg USING (gram) GROUP BY cg.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(tot.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(hit.n_hit / CAST(tot.n_grams AS DOUBLE), 0.0), 6) AS hit_frac,
           COALESCE(hit.n_hit / CAST(tot.n_grams AS DOUBLE), 0.0) >= 0.05 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 101 <> 0) d
    LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)
    """,
)
def t16(spark, sf):
    """Benchmark decontamination (GPT-3 §C-style n-gram overlap): the
    eval set is carved from `documents` as every 101st doc; the rest is
    the corpus (`operators/text.py:contamination`, broadcast eval grams)."""
    from duckdb_graphar_spark.operators.text import contamination

    docs = _t(spark, sf, "documents")
    eval_df = docs.filter(F.col("doc_id") % 101 == 0)
    corpus = docs.filter(F.col("doc_id") % 101 != 0)
    return contamination(corpus, eval_df, n=3, threshold=0.05)


@_q(
    "t17_pack_offsets",
    # ORACLE: a plain global window prefix-sum.  The Spark side computes
    # the SAME numbers with the scalable two-phase scan (range-bucketed
    # parallel windows + broadcast bucket prefixes) — a single-task
    # Window.orderBy would be the naive plan this operator replaces.
    """
    WITH t AS (
      SELECT doc_id,
             CAST(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
      FROM documents
    ),
    o AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
      FROM t
    )
    SELECT doc_id, n_tokens, tok_offset,
           CAST(tok_offset // 64 AS BIGINT) AS first_seq,
           CAST(CASE WHEN n_tokens > 0 THEN (tok_offset + n_tokens - 1) // 64
                     ELSE tok_offset // 64 END AS BIGINT) AS last_seq,
           CAST(CASE WHEN n_tokens > 0 THEN (tok_offset + n_tokens - 1) // 64
                     ELSE tok_offset // 64 END - tok_offset // 64 + 1 AS BIGINT) AS n_seqs
    FROM o
    """,
)
def t17(spark, sf):
    """Concat-and-chunk sequence packing: global token offsets via the
    distributed two-phase prefix sum (`operators/packing.py`), budget 64."""
    from duckdb_graphar_spark.operators.packing import pack_offsets
    from duckdb_graphar_spark.operators.text import token_count

    docs = _t(spark, sf, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    return pack_offsets(docs, id_col="doc_id", token_col="n_tok", budget=64).select(
        "doc_id",
        "n_tokens",
        F.col("offset").alias("tok_offset"),
        "first_seq",
        "last_seq",
        "n_seqs",
    )


@_q(
    "st07_stream_stream_join",
    # ORACLE: the equivalent batch self-join.  Comparisons run on
    # microsecond epochs in both engines (the fixture's ns timestamps
    # truncate to Spark's µs TimestampType), so boundary inclusion is
    # engine-identical.
    """
    SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
           CAST(a.ts AS TIMESTAMP) AS a_ts, CAST(b.ts AS TIMESTAMP) AS b_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND epoch_us(b.ts) >= epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
    """,
)
def st07(spark, sf):
    """Stream-stream inner join with event-time range condition
    (view → purchase within 10 min per user): both sides are watermarked
    file streams; the single-file fixture yields one micro-batch whose
    append-mode output equals the batch join — fully oracle-checked."""
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_stream_join,
    )

    left = read_events_stream(spark, f"{sf}/events.parquet")
    right = read_events_stream(spark, f"{sf}/events.parquet")
    joined = stream_stream_join(left, right, within="10 minutes")
    return run_to_memory(joined, "st07_out", mode="append")


@_q(
    "st18_stream_semi_join",
    # ORACLE: the equivalent batch LEFT SEMI join over the events
    # table — each view emitted at most once iff a same-user purchase
    # lands within 10 minutes after it.  The stream is staged as TWO
    # mtime-ordered micro-batches (every non-purchase event, then the
    # purchases) so the semi state genuinely crosses a batch boundary:
    # batch-0 views sit in state until their batch-1 matches arrive
    # (the right side sees no rows in batch 0, so the global watermark
    # stays at the floor and nothing is late-dropped).
    """
    SELECT a.user_id, a.event_id AS a_id, CAST(a.ts AS TIMESTAMP) AS a_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') a
    SEMI JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) >= epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
    """,
)
def st18(spark, sf):
    """Stream-stream LEFT SEMI join — the EXISTENCE shape completing
    the stream-join family (inner st07, left-outer st13, full-outer
    st15): keep the views that converted within 10 minutes, emitted at
    most once each, no right columns and no match-multiplicity blowup.
    Semi rows emit when their first match ARRIVES (no eviction pass
    needed), so unlike st13/st15 this entry needs no far-future nudge
    staging — but the fixture is still split into two micro-batches
    (non-purchases, then purchases) so the match genuinely reads
    batch-0 state (`streaming/ops.py:stream_stream_semi_join`)."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        stream_stream_semi_join,
    )

    stage = tempfile.mkdtemp(prefix="st18_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "purchase"), stage)
        left = read_events_stream(spark, stage, max_files=1)
        right = read_events_stream(spark, stage, max_files=1)
        joined = stream_stream_semi_join(left, right, within="10 minutes")
        return run_to_memory(joined, "st18_out", mode="append")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st19_streaming_capped_sessions",
    # ORACLE: q93's recursive-CTE recurrence VERBATIM (gap >= 12h OR
    # duration > 48h, session ids 0-based per user) — the batches are
    # TIME-SPLIT (ntile(3) over global (ts, event_id) order), so batch
    # arrival order equals event-time order and the streaming fold is
    # the batch fold; the caller keeps each (user, session)'s
    # max-n_seen emission (closed sessions freeze, the open one's last
    # emission is final).
    """
    WITH RECURSIVE o AS (
      SELECT user_id, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS rn
      FROM events
    ),
    r(user_id, rn, ts, sess_start, sid) AS (
      SELECT user_id, rn, ts, ts, 0 FROM o WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, o.ts,
             CASE WHEN epoch_us(o.ts) - epoch_us(r.ts) >= 43200000000
                       OR epoch_us(o.ts) - epoch_us(r.sess_start) > 172800000000
                  THEN o.ts ELSE r.sess_start END,
             CASE WHEN epoch_us(o.ts) - epoch_us(r.ts) >= 43200000000
                       OR epoch_us(o.ts) - epoch_us(r.sess_start) > 172800000000
                  THEN r.sid + 1 ELSE r.sid END
      FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, CAST(sid AS INTEGER) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r GROUP BY user_id, sid
    """,
)
def st19(spark, sf):
    """STREAMING capped sessionization — q93's stateful twin and the
    live session semantics `session_window` cannot express (gap ≥ 12h
    OR duration > 48h; the cap is sequential).  Per-user state is four
    numbers; each micro-batch folds its events in time order and emits
    the sessions it touched; the entry reconstructs the final table
    from each (user, session)'s max-n_seen emission (the st16/st17
    discipline).  Three TIME-SPLIT micro-batches, so sessions genuinely
    span batch boundaries and the batch oracle holds verbatim
    (`streaming/ops.py:streaming_capped_sessions`)."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        streaming_capped_sessions,
    )

    stage = tempfile.mkdtemp(prefix="st19_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "time"), stage)
        stream = read_events_stream(spark, stage, max_files=1)
        sink = run_to_memory(
            streaming_capped_sessions(
                stream, gap_seconds=43_200, max_duration_seconds=172_800
            ),
            "st19_out",
            mode="update",
        )
        # localize before self-joining (the st17 MemorySink lesson)
        raw = spark.createDataFrame(sink.collect(), sink.schema)
        final_n = raw.groupBy("user_id", "session_id").agg(
            F.max("n_seen").alias("n_seen")
        )
        return raw.join(final_n, ["user_id", "session_id", "n_seen"]).select(
            "user_id",
            "session_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st20_stream_anti_join",
    # ORACLE: the equivalent batch LEFT ANTI join — views of users who
    # NEVER purchase.  The stream is staged as TWO mtime-ordered
    # micro-batches (every non-purchase event, then the purchases), so
    # batch-0 emits every view matched=false and batch-1 must CORRECT
    # the views of every purchasing user out of per-key state — the
    # emit-and-correct protocol is load-bearing, not decorative.
    """
    SELECT v.user_id, v.event_id
    FROM events v
    WHERE v.event_type = 'view'
      AND NOT EXISTS (SELECT 1 FROM events p
                      WHERE p.event_type = 'purchase'
                        AND p.user_id = v.user_id)
    """,
)
def st20(spark, sf):
    """Stream-stream LEFT ANTI join — the join shape Spark's native
    stream-stream machinery refuses outright ('LeftAnti joins with a
    streaming DataFrame/Dataset on the right are not supported'),
    completing the family (inner st07, left st13, full st15, semi
    st18): the views whose user never purchases.  Anti is a NEGATIVE
    existence claim, so verdicts are provisional by construction — the
    operator emits every left's current verdict tagged with the key's
    strictly-increasing n_seen, corrections re-emit pending lefts when
    a key's first right arrives, and the caller keeps each left's
    max-n_seen emission (the st16/st17/st19 reconstruction).  Final
    matched=false rows equal the batch ANTI oracle
    (`streaming/ops.py:stream_stream_anti_join`)."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        stream_stream_anti_join,
    )

    stage = tempfile.mkdtemp(prefix="st20_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "purchase"), stage)
        stream = read_events_stream(spark, stage, max_files=1)
        out = run_to_memory(
            stream_stream_anti_join(stream), "st20_out", mode="update"
        )
        w = Window.partitionBy("event_id").orderBy(F.col("n_seen").desc())
        final = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .filter(~F.col("matched"))
        )
        return final.select("user_id", "event_id")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st21_stream_anti_join_horizon",
    # ORACLE: the batch RANGE anti join — views with no same-user
    # purchase in event time [ts, ts + 24 h].  The horizon is what
    # makes per-key state a CONSTANT (st20's unbounded mode documents
    # its bound; this mode enforces one): a verdict is final once the
    # watermark passes ts + 24 h, pending lefts are watermark-evicted
    # via EventTimeTimeout, idle keys drop to zero state.  Staged
    # non-purchases-then-purchases so batch-1 must CORRECT batch-0's
    # provisional matched=false emissions out of state; at sf0.01 the
    # horizon splits the views 1295 anti / 687 matched (unbounded anti
    # is 0 here — the horizon semantics, not the key-existence check,
    # is what the oracle pins).
    """
    SELECT v.user_id, v.event_id
    FROM events v
    WHERE v.event_type = 'view'
      AND NOT EXISTS (SELECT 1 FROM events p
                      WHERE p.event_type = 'purchase'
                        AND p.user_id = v.user_id
                        AND p.ts >= v.ts
                        AND p.ts <= v.ts + INTERVAL 24 HOUR)
    """,
)
def st21(spark, sf):
    """Stream-stream LEFT ANTI join with an EVENT-TIME HORIZON — the
    production form of st20 ("no match within T ⇒ anti"): per-key
    state is bounded by the horizon window instead of the anti-result
    size, with EventTimeTimeout eviction
    (`streaming/ops.py:stream_stream_anti_join(horizon_seconds=...)`).
    Same emit-and-correct protocol and max-n_seen reconstruction as
    st20."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        stream_stream_anti_join,
    )

    stage = tempfile.mkdtemp(prefix="st21_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "purchase"), stage)
        stream = read_events_stream(spark, stage, max_files=1)
        out = run_to_memory(
            stream_stream_anti_join(stream, horizon_seconds=86_400),
            "st21_out",
            mode="update",
        )
        w = Window.partitionBy("event_id").orderBy(F.col("n_seen").desc())
        final = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .filter(~F.col("matched"))
        )
        return final.select("user_id", "event_id")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st22_streaming_funnel",
    # ORACLE: q58's staged-min funnel VERBATIM — t_{i+1} = first
    # stage-(i+1) event STRICTLY after t_i.  Batches are TIME-SPLIT
    # (ntile(3) over global (ts, event_id) order) so the greedy
    # anchor-carrying streaming fold equals the batch staged-min; the
    # caller keeps each user's max-n_seen emission.
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
    SELECT u.user_id,
           CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stages_completed,
           COALESCE(t3, t2, t1) AS completed_at
    FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
           LEFT JOIN s3 USING (user_id)
    """,
)
def st22(spark, sf):
    """STREAMING funnel view→click→purchase — q58's stateful twin and
    the CEP pattern (MATCH_RECOGNIZE core) Structured Streaming lacks
    natively: per-user state is (stage, anchor µs, n_seen), each batch
    advances through at most len(stages) searchsorted jumps, emissions
    are reconstructed by max-n_seen
    (`streaming/ops.py:streaming_funnel`).  Three TIME-SPLIT batches so
    funnels genuinely progress across batch boundaries."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        streaming_funnel,
    )

    stage = tempfile.mkdtemp(prefix="st22_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "time"), stage)
        stream = read_events_stream(spark, stage, max_files=1)
        sink = run_to_memory(
            streaming_funnel(stream, ["view", "click", "purchase"]),
            "st22_out",
            mode="update",
        )
        raw = spark.createDataFrame(sink.collect(), sink.schema)
        final_n = raw.groupBy("user_id").agg(F.max("n_seen").alias("n_seen"))
        return raw.join(final_n, ["user_id", "n_seen"]).select(
            "user_id",
            "stages_completed",
            F.col("completed_at").cast("timestamp_ntz").alias("completed_at"),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st23_streaming_funnel_window",
    # ORACLE: q91's staged-min-with-conversion-window funnel VERBATIM —
    # stage i+1 is the first event STRICTLY after t_i AND within 6 h of
    # it.  Under time-split batches the window verdict is
    # incremental-final (the first needed-type event beyond the window
    # proves no qualifying one can arrive), so the streaming fold
    # freezes stuck funnels and still equals the batch recurrence.
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND epoch_us(e.ts) - epoch_us(s1.t1) <= 21600000000
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND epoch_us(e.ts) - epoch_us(s2.t2) <= 21600000000
           GROUP BY e.user_id)
    SELECT u.user_id,
           CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stages_completed,
           COALESCE(t3, t2, t1) AS completed_at
    FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
           LEFT JOIN s3 USING (user_id)
    """,
)
def st23(spark, sf):
    """STREAMING conversion-window funnel — q91's stateful twin
    (view→click→purchase, each stage within 6 h of the previous):
    st22's anchor-carrying fold plus the one extra boolean that makes
    window verdicts incremental-final
    (`streaming/ops.py:streaming_funnel(max_gap_us=...)`)."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        streaming_funnel,
    )

    stage = tempfile.mkdtemp(prefix="st23_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "time"), stage)
        stream = read_events_stream(spark, stage, max_files=1)
        sink = run_to_memory(
            streaming_funnel(
                stream,
                ["view", "click", "purchase"],
                max_gap_us=21_600_000_000,
            ),
            "st23_out",
            mode="update",
        )
        raw = spark.createDataFrame(sink.collect(), sink.schema)
        final_n = raw.groupBy("user_id").agg(F.max("n_seen").alias("n_seen"))
        return raw.join(final_n, ["user_id", "n_seen"]).select(
            "user_id",
            "stages_completed",
            F.col("completed_at").cast("timestamp_ntz").alias("completed_at"),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st24_stream_scd2_enrich",
    # ORACLE: q59's gaps-and-islands interval CTE verbatim, joined back
    # to the purchase events on half-open containment — ts >= valid_from
    # AND (valid_to IS NULL OR ts < valid_to).  Intervals partition each
    # user's timeline from their first event, so every purchase matches
    # exactly ONE row in both engines; zero-length runs (ts ties) are
    # skipped identically by the half-open predicate.
    """
    WITH o AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR event_type <> lag(event_type) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
          FROM o),
    c AS (SELECT user_id, run, MIN(event_type) AS state, MIN(ts) AS valid_from
          FROM r GROUP BY user_id, run),
    iv AS (SELECT user_id, state, valid_from,
                  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to
           FROM c)
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, e.value,
           i.state AS state_asof,
           CAST(i.valid_from AS TIMESTAMP) AS state_since
    FROM events e JOIN iv i ON e.user_id = i.user_id
     AND e.ts >= i.valid_from AND (i.valid_to IS NULL OR e.ts < i.valid_to)
    WHERE e.event_type = 'purchase'
    """,
)
def st24(spark, sf):
    """STREAM-STATIC SCD2 point-in-time enrichment — each purchase event
    picks up the user's state run valid AT ITS EVENT TIME (the q76
    point-in-time join shape, live; `streaming/ops.py:
    stream_scd2_enrich`).  Stream-static inner joins run with NO state
    store and no watermark: the SCD2 dimension (built batch-side by
    q59's `scd2_intervals`) is broadcast per micro-batch and output is
    append-only per event.  Completes the stream-join family:
    stream-stream inner/left/full/semi/anti + stream-static equi (st08
    lane) + stream-static INTERVAL (this)."""
    from duckdb_graphar_spark.operators.events import scd2_intervals
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_scd2_enrich,
    )

    dim = scd2_intervals(_t(spark, sf, "events"))
    stream = read_events_stream(spark, f"{sf}/events.parquet").filter(
        F.col("event_type") == "purchase"
    )
    sink = run_to_memory(stream_scd2_enrich(stream, dim), "st24_out", mode="append")
    return sink.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "value",
        "state_asof",
        F.col("state_since").cast("timestamp_ntz").alias("state_since"),
    )


@_q(
    "st25_streaming_last_touch",
    # ORACLE: q89's LAST_VALUE IGNORE NULLS lookback window VERBATIM —
    # each purchase's most recent strictly-preceding view on the shared
    # (ts, event_id) ordering, NULL when none.  Batches are TIME-SPLIT
    # (ntile(3) over global (ts, event_id) order) so the carried
    # (last-view µs, id) state is load-bearing across batch boundaries;
    # append semantics — every purchase's verdict is final when
    # processed, so no max-n_seen reconstruction is needed.
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END
                        IGNORE NULLS)
               OVER w AS attributed_view_id,
             LAST_VALUE(CASE WHEN event_type = 'view'
                             THEN CAST(epoch_us(ts) AS BIGINT) END
                        IGNORE NULLS)
               OVER w AS view_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id,
           CAST(attributed_view_id AS BIGINT) AS attributed_view_id,
           CAST(epoch_us(ts) - view_us AS BIGINT) AS gap_us
    FROM o WHERE event_type = 'purchase'
    """,
)
def st25(spark, sf):
    """STREAMING last-touch attribution — q89's stateful twin: per-user
    state is the last view's (µs, id), TWO numbers (the minimal
    attribution state — constant per active user at any volume); each
    batch's purchases resolve against a vectorized in-batch prefix
    count with the carried state as fallback, and every emission is
    FINAL (a preceding view can only be in the past — append
    semantics, no emit-and-correct)
    (`streaming/ops.py:streaming_last_touch`).  Three time-split
    batches make the cross-batch state carry load-bearing."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        streaming_last_touch,
    )

    stage = tempfile.mkdtemp(prefix="st25_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "time"), stage)
        stream = read_events_stream(spark, stage, max_files=1)
        sink = run_to_memory(
            streaming_last_touch(stream), "st25_out", mode="append"
        )
        return sink.select(
            "purchase_id", "user_id", "attributed_view_id", "gap_us"
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st26_streaming_clamped_balance",
    # ORACLE: q97's Lindley closed form VERBATIM (running sum, running
    # min, B = S − min(0, runmin)) — the streaming side instead runs
    # the vectorized per-batch fold started at the carried balance;
    # the reflection map composes across batches, so three TIME-SPLIT
    # batches equal the one-shot batch computation exactly.
    """
    WITH d AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN -CAST(ROUND(value * 100) AS BIGINT)
                  ELSE CAST(ROUND(value * 100) AS BIGINT) END AS delta
      FROM events
    ),
    p AS (SELECT user_id, ts, event_id,
                 SUM(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS pre
          FROM d),
    m AS (SELECT user_id, event_id, pre,
                 MIN(pre) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS runmin
          FROM p)
    SELECT event_id, user_id,
           CAST(pre - LEAST(CAST(0 AS BIGINT), runmin) AS BIGINT) AS balance
    FROM m
    """,
)
def st26(spark, sf):
    """STREAMING zero-clamped running balance — q97's stateful twin
    with the minimal possible state: ONE long per user (the current
    balance); each batch replays the Lindley closed form vectorized
    from the carried balance (cumsum + minimum.accumulate, no per-event
    loop), emissions FINAL per event (append — balances depend only on
    the past) (`streaming/ops.py:streaming_clamped_balance`).  Three
    time-split batches make the balance carry load-bearing."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        streaming_clamped_balance,
    )

    stage = tempfile.mkdtemp(prefix="st26_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "time"), stage)
        stream = read_events_stream(spark, stage, max_files=1).withColumn(
            "delta",
            F.when(
                F.col("event_type") == "purchase",
                -F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.round(F.col("value") * 100).cast("long")),
        )
        sink = run_to_memory(
            streaming_clamped_balance(stream), "st26_out", mode="append"
        )
        return sink.select("event_id", "user_id", "balance")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st27_streaming_running_distinct",
    # ORACLE: q94's first-occurrence-flag running sum VERBATIM.  The
    # streaming side instead carries each user's SEEN-VALUE SET
    # (bounded by the value domain, not event volume) and resolves
    # each batch with factorize + first-occurrence masks; three
    # TIME-SPLIT batches pin the cross-batch set carry (a type first
    # seen in batch 0 must not count again in batch 2).
    """
    WITH f AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS ff
      FROM events
    )
    SELECT event_id, user_id,
           CAST(SUM(ff) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_distinct
    FROM f
    """,
)
def st27(spark, sf):
    """STREAMING running distinct count — q94's stateful twin: per-user
    state is the seen-value SET (bounded by the value DOMAIN's
    cardinality — event types here; the dimension-like contract, vs
    st12's HLL for unbounded domains), per-batch resolution is
    vectorized factorize + first-occurrence masks, emissions FINAL per
    event (append)
    (`streaming/ops.py:streaming_running_distinct`)."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        streaming_running_distinct,
    )

    stage = tempfile.mkdtemp(prefix="st27_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "time"), stage)
        stream = read_events_stream(spark, stage, max_files=1)
        sink = run_to_memory(
            streaming_running_distinct(stream), "st27_out", mode="append"
        )
        return sink.select("event_id", "user_id", "n_distinct")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st28_streaming_time_decay",
    # ORACLE: q96's oracle VERBATIM — FIRST_VALUE pair windows, whole-
    # half-life quantization, exact integer weights 2^(50-n), decimal
    # normalizer, one double division.  The streaming side carries each
    # user's PENDING-VIEW list and settles it at each purchase; three
    # time-split batches make carried pending views load-bearing
    # (a batch-0 view credited by a batch-1 purchase).
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS pid,
             FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS pus
      FROM events
    ),
    v AS (SELECT user_id, event_id AS view_id, pid, pus, epoch_us(ts) AS vus
          FROM o WHERE event_type = 'view' AND pid IS NOT NULL),
    wt AS (SELECT user_id, view_id, pid,
                  LEAST((pus - vus) // 86400000000, 50) AS halflives,
                  (CAST(1 AS BIGINT) << CAST(50 - LEAST((pus - vus) // 86400000000, 50)
                                             AS INTEGER)) AS weight
           FROM v),
    s AS (SELECT user_id, pid, SUM(CAST(weight AS DECIMAL(38,0))) AS sw
          FROM wt GROUP BY 1, 2)
    SELECT CAST(wt.pid AS BIGINT) AS purchase_id, wt.user_id,
           CAST(wt.view_id AS BIGINT) AS view_id,
           CAST(wt.halflives AS BIGINT) AS halflives,
           CAST(wt.weight AS BIGINT) AS weight,
           CAST(wt.weight AS DOUBLE) / CAST(s.sw AS DOUBLE) AS credit
    FROM wt JOIN s ON s.user_id = wt.user_id AND s.pid = wt.pid
    """,
)
def st28(spark, sf):
    """STREAMING time-decay attribution — q96's stateful twin: per-user
    state is the PENDING-VIEW list since the last purchase (bounded by
    the user's purchase cadence), settled at each purchase with the
    same dyadic-exact 2^(50−halflives) weights and one double
    division; emissions FINAL (append).  Completes the attribution
    family's batch/streaming matrix: last-touch (q89/st25), linear
    (q90), time-decay (q96/st28)
    (`streaming/ops.py:streaming_time_decay_attribution`)."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        streaming_time_decay_attribution,
    )

    stage = tempfile.mkdtemp(prefix="st28_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "time"), stage)
        stream = read_events_stream(spark, stage, max_files=1)
        sink = run_to_memory(
            streaming_time_decay_attribution(stream), "st28_out", mode="append"
        )
        return sink.select(
            "purchase_id", "user_id", "view_id", "halflives", "weight", "credit"
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st29_stream_scd2_enrich_left",
    # ORACLE: st24's gaps-and-islands interval CTE over a RESTRICTED
    # dimension source (user_id % 3 <> 0 AND event_id % 2 = 0), LEFT-
    # joined back to ALL purchases on half-open containment — so both
    # uncovered shapes exist in the fixture and must surface as NULL
    # state rows: users with NO dimension intervals at all (user_id %
    # 3 = 0), and purchases whose ts precedes their user's first even-
    # event interval (the late-backfill shape the inner mode drops).
    """
    WITH src AS (
      SELECT * FROM events WHERE user_id % 3 <> 0 AND event_id % 2 = 0
    ),
    o AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR event_type <> lag(event_type) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
          FROM o),
    c AS (SELECT user_id, run, MIN(event_type) AS state, MIN(ts) AS valid_from
          FROM r GROUP BY user_id, run),
    iv AS (SELECT user_id, state, valid_from,
                  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to
           FROM c)
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, e.value,
           i.state AS state_asof,
           CAST(i.valid_from AS TIMESTAMP) AS state_since
    FROM events e LEFT JOIN iv i ON e.user_id = i.user_id
     AND e.ts >= i.valid_from AND (i.valid_to IS NULL OR e.ts < i.valid_to)
    WHERE e.event_type = 'purchase'
    """,
)
def st29(spark, sf):
    """STREAM-STATIC SCD2 enrichment, LEFT mode — st24 with
    ``how="left"`` (`streaming/ops.py:stream_scd2_enrich`): purchases
    NOT covered by any dimension interval (no dim rows for the key, or
    event time before the key's first valid_from — the late-backfill
    shape) are KEPT with NULL state_asof/state_since instead of being
    silently dropped.  The dimension is deliberately built from a
    subset of events (every third user excluded entirely; only
    even-numbered events feed intervals) so both uncovered shapes are
    present and load-bearing.  Stream-static LEFT joins are equally
    stateless — per-micro-batch broadcast hash join, stream side
    preserved."""
    from duckdb_graphar_spark.operators.events import scd2_intervals
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_scd2_enrich,
    )

    dim = scd2_intervals(
        _t(spark, sf, "events").filter(
            (F.col("user_id") % 3 != 0) & (F.col("event_id") % 2 == 0)
        )
    )
    stream = read_events_stream(spark, f"{sf}/events.parquet").filter(
        F.col("event_type") == "purchase"
    )
    sink = run_to_memory(
        stream_scd2_enrich(stream, dim, how="left"), "st29_out", mode="append"
    )
    return sink.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "value",
        "state_asof",
        F.col("state_since").cast("timestamp_ntz").alias("state_since"),
    )


@_q(
    "st30_streaming_twap",
    # ORACLE: q85's fixed-point integral made RUNNING — every event
    # after a user's first closes one interval, and the cumulative
    # UNBOUNDED-PRECEDING frame over (ts, event_id) replays exactly the
    # (n, Σδt, Σv·δt) triple the streaming fold carries across batches;
    # the DECIMAL(38,0) window sum is the oracle's arbitrary-precision
    # twin of the fold's Python-int numerator, and both engines divide
    # the same two doubles and ROUND(…, 6) the same way.
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             LAG(epoch_us(ts)) OVER w AS pus,
             LAG(CAST(ROUND(value * 10000) AS BIGINT)) OVER w AS pv
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    d AS (SELECT user_id, ts, event_id,
                 epoch_us(ts) - pus AS du, pv
          FROM o WHERE pus IS NOT NULL)
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w2 AS BIGINT) AS n_intervals,
           CAST(SUM(du) OVER w2 AS BIGINT) AS total_us,
           ROUND(CAST(SUM(CAST(pv AS DECIMAL(38,0)) * du) OVER w2 AS DOUBLE)
                 / 10000.0 / CAST(SUM(du) OVER w2 AS DOUBLE), 6) AS twap
    FROM d
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def st30(spark, sf):
    """STREAMING time-weighted average — q85's stateful twin and the
    warehouse batch/streaming matrix's last cell
    (`streaming/ops.py:streaming_twap`): each observation holds until
    the user's next event, every event after the first emits the
    running TWAP over all intervals closed so far, FINAL per event
    (append).  Per-user state is five scalars (last µs, last
    fixed-point value, n, Σδt, and the Σv·δt numerator carried as an
    arbitrary-precision decimal string — the running product sum
    outgrows int64 where q85's one-shot DECIMAL(38,0) aggregate
    wouldn't).  Three time-split batches make the interval spanning
    each batch boundary load-bearing."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        streaming_twap,
    )

    stage = tempfile.mkdtemp(prefix="st30_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "time"), stage)
        stream = read_events_stream(spark, stage, max_files=1)
        sink = run_to_memory(streaming_twap(stream), "st30_out", mode="append")
        return sink.select(
            "event_id",
            "user_id",
            "n_intervals",
            "total_us",
            F.round(F.col("twap_raw"), 6).alias("twap"),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st31_streaming_kll_quantile",
    # ORACLE: q102's batch-sketch oracle reduced to the sketch columns
    # plus n_seen — legal as a FULL value replay because the sketch is
    # a deterministic function of the row set (merge == direct with
    # the carried threshold as floor), so the streaming state's final
    # content is independent of batch boundaries; levels are the same
    # md5 + bit_count integer arithmetic as q102.
    """
    WITH b AS (SELECT event_type AS g, CAST(event_id AS VARCHAR) AS tag,
                      CAST(value AS DOUBLE) AS val
               FROM events WHERE value IS NOT NULL),
    h AS (SELECT g, tag, val,
                 CAST(CAST(concat('0x', substr(md5('kll0' || chr(31) || tag), 1, 13))
                      AS UBIGINT) AS BIGINT) + 1 AS hv
          FROM b),
    l AS (SELECT g, tag, val, bit_count((hv & -hv) - 1) AS lvl FROM h),
    cnt AS (SELECT g, lvl, COUNT(*) AS c FROM l GROUP BY 1, 2),
    cm AS (SELECT g, lvl, c,
                  SUM(c) OVER (PARTITION BY g ORDER BY lvl DESC) AS cum
           FROM cnt),
    t AS (SELECT g,
                 CAST(CASE WHEN SUM(c) <= 256 THEN 0
                      ELSE 1 + MAX(CASE WHEN cum > 256 THEN lvl END)
                      END AS INTEGER) AS t_level
          FROM cm GROUP BY g),
    kept AS (SELECT l.g, l.val, l.tag FROM l JOIN t ON l.g = t.g
             WHERE l.lvl >= t.t_level),
    m AS (SELECT g, COUNT(*) AS m_kept FROM kept GROUP BY 1),
    rk AS (SELECT g, val,
                  ROW_NUMBER() OVER (PARTITION BY g ORDER BY val, tag) AS rn
           FROM kept),
    q AS (SELECT rk.g,
                 MAX(CASE WHEN rn = ((m_kept - 1) * 1) // 4 + 1 THEN val END) AS q25_est,
                 MAX(CASE WHEN rn = ((m_kept - 1) * 1) // 2 + 1 THEN val END) AS q50_est,
                 MAX(CASE WHEN rn = ((m_kept - 1) * 3) // 4 + 1 THEN val END) AS q75_est
          FROM rk JOIN m ON rk.g = m.g GROUP BY rk.g),
    nx AS (SELECT g, COUNT(*) AS n_seen FROM b GROUP BY g)
    SELECT nx.g AS event_type,
           CAST(nx.n_seen AS BIGINT) AS n_seen,
           t.t_level AS t_level,
           CAST(COALESCE(m.m_kept, 0) AS BIGINT) AS m_kept,
           CAST(COALESCE(m.m_kept, 0) * (CAST(1 AS BIGINT) << t.t_level)
                AS BIGINT) AS est_n,
           q.q25_est, q.q50_est, q.q75_est
    FROM nx JOIN t ON nx.g = t.g
    LEFT JOIN m ON nx.g = m.g
    LEFT JOIN q ON nx.g = q.g
    """,
)
def st31(spark, sf):
    """Streaming KLL-style quantile sketch (q102's stateful twin,
    st16's quantile-axis sibling — the sketch family's batch/streaming
    matrix closes with this cell): per-group ≤ 256 level-sampled
    survivor rows + adaptive threshold maintained in O(k)
    applyInPandasWithState state across THREE mtime-ordered
    micro-batches — merge-order independence of the level sketch is
    what licenses a full value oracle.  Level hashing runs JVM-side
    before the stateful op; est_n arithmetic stays JVM-side after it
    (`streaming/ops.py:streaming_kll_quantile`)."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        streaming_kll_quantile,
    )

    stage = tempfile.mkdtemp(prefix="st31_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf), stage)
        stream = read_events_stream(spark, stage, max_files=1)
        raw = run_to_memory(
            streaming_kll_quantile(stream, k=256), "st31_out", mode="update"
        )
        w = Window.partitionBy("g").orderBy(F.desc("n_seen"))
        final = (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        return final.select(
            F.col("g").alias("event_type"),
            F.col("n_seen").cast("long").alias("n_seen"),
            F.col("t_lvl").alias("t_level"),
            F.col("m_kept").cast("long").alias("m_kept"),
            (
                F.col("m_kept")
                * F.expr("shiftleft(cast(1 as bigint), cast(t_lvl as int))")
            ).cast("long").alias("est_n"),
            "q25_est",
            "q50_est",
            "q75_est",
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st13_stream_outer_join",
    # ORACLE: the equivalent batch LEFT join over the ORIGINAL events
    # table (the far-future nudge rows exist only in the stream's temp
    # dir and are filtered by event_type on both join sides).  The
    # stream is driven through three micro-batches — real events, then
    # two nudges — because unmatched left rows only materialize during
    # state EVICTION: Spark's watermark for batch k comes from batches
    # <= k-1, so the first nudge advances the watermark and the second
    # triggers the eviction pass that emits the null-padded rows.
    """
    SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
           CAST(a.ts AS TIMESTAMP) AS a_ts, CAST(b.ts AS TIMESTAMP) AS b_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) >= epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
    """,
)
def st13(spark, sf):
    """Stream-stream LEFT OUTER join with watermark-driven eviction of
    unmatched rows — the outer shape st07's inner join can't show.
    The fixture is staged as three mtime-ordered micro-batches (real
    events + two far-future nudge events) so the final watermark
    provably passes every left row's match horizon and the append-mode
    output equals the batch left join EXACTLY — null-padded rows
    included, fully oracle-checked."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        stream_stream_left_join,
    )

    stage = tempfile.mkdtemp(prefix="st13_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "nudge"), stage)
        left = read_events_stream(spark, stage, max_files=1)
        right = read_events_stream(spark, stage, max_files=1)
        joined = stream_stream_left_join(left, right, within="10 minutes")
        out = run_to_memory(joined, "st13_out", mode="append")
        # drop the nudge pairs (user -1, ids >= 1e9) — staging artifacts,
        # absent from the oracle's events table
        return out.filter(F.col("a_id") < 1_000_000_000)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st15_stream_full_join",
    # ORACLE: the equivalent batch FULL join over the ORIGINAL events
    # table; the key is COALESCE'd across sides.  Same 3-micro-batch
    # nudge staging as st13 — unmatched rows on BOTH sides (a view with
    # no purchase within 10min; a purchase no view precedes) only
    # materialize at state eviction, and the two sides evict on
    # different watermark horizons (a_ts + within vs b_ts).
    """
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           a.event_id AS a_id, b.event_id AS b_id,
           CAST(a.ts AS TIMESTAMP) AS a_ts, CAST(b.ts AS TIMESTAMP) AS b_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') a
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) >= epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
    """,
)
def st15(spark, sf):
    """Stream-stream FULL OUTER join — the last stream-join shape
    (st07 inner, st13 left): null-padded unmatched rows from BOTH
    sides, each side evicting on its own watermark horizon derived
    from the range condition.  Same three-micro-batch staging as st13
    (real events + two far-future nudges, one per event_type, so the
    watermark provably passes both sides' horizons); append-mode
    output equals the batch full join EXACTLY
    (`streaming/ops.py:stream_stream_full_join`)."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        stream_stream_full_join,
    )

    stage = tempfile.mkdtemp(prefix="st15_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf, "nudge"), stage)
        left = read_events_stream(spark, stage, max_files=1)
        right = read_events_stream(spark, stage, max_files=1)
        joined = stream_stream_full_join(left, right, within="10 minutes")
        out = run_to_memory(joined, "st15_out", mode="append")
        # drop nudge staging artifacts from EITHER side (absent from the
        # oracle's events table); real rows keep ids < 1e9
        return out.filter(
            (F.col("a_id").isNull() | (F.col("a_id") < 1_000_000_000))
            & (F.col("b_id").isNull() | (F.col("b_id") < 1_000_000_000))
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st16_streaming_kmv_distinct",
    # ORACLE: the batch KMV sketch over the same rows — legal as a FULL
    # value oracle (not a tolerance band) because bottom-k of a union
    # equals bottom-k of incremental per-batch merges, so the streaming
    # state's final content is independent of batch boundaries; u is
    # the same md5 integer arithmetic as q80.  kth_u is NULL below
    # capacity (the estimator falls back to the exact survivor count).
    """
    WITH b AS (SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS val
               FROM events),
    h AS (SELECT g, val,
                 (CAST(concat('0x', substr(md5('kmv0' || chr(31) || val), 1, 13))
                       AS UBIGINT) + 1) / 4503599627370497.0 AS u
          FROM b),
    sk AS (SELECT g, MAX(u) AS kth_u, COUNT(*) AS n_sk FROM (
             SELECT g, val, u,
                    ROW_NUMBER() OVER (PARTITION BY g ORDER BY u, val) AS rn
             FROM h) WHERE rn <= 64 GROUP BY g),
    ex AS (SELECT event_type AS g, COUNT(*) AS n_seen,
                  COUNT(DISTINCT user_id) AS n_exact
           FROM events GROUP BY 1)
    SELECT ex.g AS event_type,
           CAST(ex.n_seen AS BIGINT) AS n_seen,
           CAST(ex.n_exact AS BIGINT) AS n_exact,
           CASE WHEN sk.n_sk < 64 THEN NULL
                ELSE ROUND(sk.kth_u, 12) END AS kth_u,
           ROUND(CASE WHEN sk.n_sk < 64 THEN CAST(sk.n_sk AS DOUBLE)
                      ELSE 63.0 / sk.kth_u END, 4) AS est_distinct,
           (ABS(CASE WHEN sk.n_sk < 64 THEN CAST(sk.n_sk AS DOUBLE)
                     ELSE 63.0 / sk.kth_u END - ex.n_exact)
            / ex.n_exact) <= 0.375 AS within_tol
    FROM ex JOIN sk ON ex.g = sk.g
    """,
)
def st16(spark, sf):
    """Streaming KMV distinct sketch (q80's stateful twin, st12's
    BIT-EXACT sibling): per-group bottom-64 content-addressed hashes
    maintained in O(k) applyInPandasWithState state across THREE
    mtime-ordered micro-batches — merge-order independence of bottom-k
    is what upgrades the check from st12's 5% band to a full value
    oracle.  Hashing runs JVM-side before the stateful op; estimate
    arithmetic and rounding stay JVM-side after it
    (`streaming/ops.py:streaming_kmv_distinct`)."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        streaming_kmv_distinct,
    )

    stage = tempfile.mkdtemp(prefix="st16_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf), stage)
        stream = read_events_stream(spark, stage, max_files=1)
        raw = run_to_memory(
            streaming_kmv_distinct(stream, k=64), "st16_out", mode="update"
        )
        w = Window.partitionBy("g").orderBy(F.desc("n_seen"))
        final = (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        est = F.when(
            F.col("n_sk") < 64, F.col("n_sk").cast("double")
        ).otherwise(F.lit(63.0) / F.col("kth_u"))
        exact = _t(spark, sf, "events").groupBy(
            F.col("event_type").alias("g")
        ).agg(F.count_distinct("user_id").alias("n_exact"))
        return final.join(exact, "g").select(
            F.col("g").alias("event_type"),
            F.col("n_seen").cast("long").alias("n_seen"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.when(F.col("n_sk") < 64, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("kth_u"), 12))
            .alias("kth_u"),
            F.round(est, 4).alias("est_distinct"),
            (
                F.abs(est - F.col("n_exact")) / F.col("n_exact").cast("double")
                <= F.lit(0.375)
            ).alias("within_tol"),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st17_streaming_cms",
    # ORACLE: q81's batch-CMS oracle VERBATIM — counter addition is
    # commutative/associative, so the streaming counters merged across
    # three micro-batches must be cell-for-cell identical to the batch
    # sketch, and therefore every point estimate and ε-flag matches.
    _CMS_ORACLE,
)
def st17(spark, sf):
    """Streaming COUNT-MIN sketch (q81's stateful twin; the frequency
    sibling of st16's KMV): O(depth·width) counter state per group,
    merged by elementwise addition across three mtime-ordered
    micro-batches — merge-order independence is what lets the entry
    share q81's FULL value oracle verbatim.  The stream emits each
    group's live cell table per batch; the entry reconstructs the
    final counters (max-n_seen emission per group), then probes the
    same top-3 exact-heavy keys with broadcast buckets, all JVM-side
    (`streaming/ops.py:streaming_cms`)."""
    import shutil

    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stage_event_batches,
        streaming_cms,
    )

    stage = tempfile.mkdtemp(prefix="st17_stream_")
    try:
        stage_event_batches(_event_batches(spark, sf), stage)
        stream = read_events_stream(spark, stage, max_files=1)
        sink = run_to_memory(
            streaming_cms(stream, depth=3, width=512), "st17_out", mode="update"
        )
        # localize before self-joining: a MemorySink view joined with an
        # aggregate of ITSELF trips Catalyst's conflicting-reference
        # check, and the sink rows are driver-resident anyway
        raw = spark.createDataFrame(sink.collect(), sink.schema)
        final_n = raw.groupBy("g").agg(F.max("n_seen").alias("n_seen"))
        counters = raw.join(final_n, ["g", "n_seen"]).select(
            "g", F.col("j").alias("__j"), F.col("b").alias("__b"),
            F.col("c").alias("__c"),
        )

        def bucket(j_col, val_col):
            return (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "\x1f", F.lit("cms0"), j_col.cast("string"),
                                val_col,
                            )
                        ),
                        1,
                        13,
                    ),
                    16,
                    10,
                ).cast("long")
                % 512
            )

        base = _t(spark, sf, "events").select(
            F.col("event_type").alias("g"),
            F.col("user_id").cast("string").alias("val"),
        )
        exact = base.groupBy("g", "val").agg(
            F.count(F.lit(1)).alias("n_exact")
        )
        wq = Window.partitionBy("g").orderBy(F.desc("n_exact"), "val")
        probe = (
            exact.withColumn("__rn", F.row_number().over(wq))
            .filter(F.col("__rn") <= 3)
            .select("g", "val", "n_exact")
            .withColumn(
                "__j", F.explode(F.array(*[F.lit(j) for j in range(3)]))
            )
            .withColumn("__b", bucket(F.col("__j"), F.col("val")))
        )
        est = (
            counters.join(F.broadcast(probe), ["g", "__j", "__b"])
            .groupBy("g", "val", "n_exact")
            .agg(F.min("__c").alias("__est"))
        )
        totals = base.groupBy("g").agg(F.count(F.lit(1)).alias("__n_tot"))
        return est.join(totals, "g").select(
            F.col("g").alias("event_type"),
            F.col("val").alias("key"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("__est").cast("long").alias("est_cnt"),
            (F.col("__est") - F.col("n_exact")).cast("long").alias("overcount"),
            (
                (F.col("__est") - F.col("n_exact")) * F.lit(512)
                <= F.lit(3) * F.col("__n_tot")
            ).alias("within_eps"),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@_q(
    "st14_streaming_ohlc",
    # ORACLE: q72's window formulation — epoch-aligned 1-hour tumbling
    # windows equal date_trunc('hour'); the completed stream's
    # complete-mode state must match the batch bars exactly (min_by/
    # max_by streaming state combines like batch partials).
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events
    )
    SELECT CAST(bucket AS TIMESTAMP) AS bucket, event_type,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_z = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM b GROUP BY event_type, bucket
    """,
)
def st14(spark, sf):
    """STREAMING OHLC bars (q72's stateful twin): min_by/max_by
    open/close state combines incrementally per micro-batch exactly
    like batch partials — O(groups) state, no per-event retention, the
    live-ticker pattern.  Single-file fixture → one micro-batch;
    complete-mode output equals the batch bars, fully
    oracle-checked (`streaming/ops.py:streaming_ohlc`)."""
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_ohlc,
    )

    s = read_events_stream(spark, f"{sf}/events.parquet")
    return run_to_memory(streaming_ohlc(s), "st14_out", mode="complete")


@_q(
    "t18_training_shuffle",
    # ORACLE: the rank of each doc under ORDER BY md5(seed || id) — md5
    # hex is engine-identical, so the permutation is too.  (The Spark
    # side computes it with the two-phase bucketed row_number, never a
    # single-task global window.)
    """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY md5('epoch0' || chr(31) || CAST(doc_id AS VARCHAR)), doc_id
           ) - 1 AS BIGINT) AS shuffle_rank
    FROM documents
    """,
)
def t18(spark, sf):
    """Deterministic global training shuffle: content-addressed
    per-epoch permutation via the scalable two-phase global row_number
    (`operators/sampling.py:training_shuffle`)."""
    from duckdb_graphar_spark.operators.sampling import training_shuffle

    return training_shuffle(_t(spark, sf, "documents"), seed="epoch0")


@_q(
    "t19_lm_fluency",
    # ORACLE: bigram transition probabilities are exact-integer ratios
    # (one IEEE division — bit-identical across engines); the per-doc
    # mean sums DECIMAL(38,18) so aggregation order can't move the
    # double.  Mirrors operators/text.py:bigram_lm_score.
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w)-1),
                                   i -> w[i] || ' ' || w[i+1])) AS g
      FROM toks
    ),
    cbg AS (SELECT g, COUNT(*) AS c_g FROM bg GROUP BY g),
    ctx AS (SELECT string_split(g, ' ')[1] AS w1, SUM(c_g) AS c_ctx
            FROM cbg GROUP BY 1),
    p AS (SELECT cbg.g, CAST(cbg.c_g AS DOUBLE) / ctx.c_ctx AS pg
          FROM cbg JOIN ctx ON string_split(cbg.g, ' ')[1] = ctx.w1),
    per AS (
      SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CAST(pg AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
      FROM bg JOIN p USING (g) GROUP BY bg.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           ROUND(COALESCE(per.m, 0.0), 6) AS mean_trans_p
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def t19(spark, sf):
    """Corpus bigram-LM mean transition probability — the log-free
    CCNet-style perplexity-filter signal (`operators/text.py:
    bigram_lm_score`)."""
    from duckdb_graphar_spark.operators.text import bigram_lm_score

    return bigram_lm_score(_t(spark, sf, "documents"))


@_q(
    "t20_tfidf_terms",
    # ORACLE: tfidf = (c·N)/(len·df) — exact-integer products, one IEEE
    # division, so scores AND the rank order are bit-deterministic in
    # both engines; ties break on term ASC.  Mirrors
    # operators/text.py:tfidf_topk.
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, SUM(c) AS len FROM tf GROUP BY doc_id),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id, tf.tok AS term,
             CAST(tf.c * (SELECT COUNT(*) FROM documents) AS DOUBLE)
               / (dl.len * dfreq.df) AS s
      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
              JOIN dfreq ON tf.tok = dfreq.tok
    )
    SELECT doc_id, term, ROUND(s, 6) AS tfidf, rank
    FROM (SELECT doc_id, term, s,
                 CAST(row_number() OVER (PARTITION BY doc_id
                                         ORDER BY s DESC, term ASC) AS BIGINT) AS rank
          FROM scored)
    WHERE rank <= 3
    """,
)
def t20(spark, sf):
    """Per-doc top-3 TF-IDF terms (ratio idf — engine-exact ordering)
    for topic bucketing (`operators/text.py:tfidf_topk`)."""
    from duckdb_graphar_spark.operators.text import tfidf_topk

    return tfidf_topk(_t(spark, sf, "documents"), k=3)


@_q(
    "t21_vocab_topk",
    # ORACLE: plain token frequencies + deterministic (count DESC, token
    # ASC) global top-1000 — Spark plans the ORDER BY+LIMIT as
    # TakeOrderedAndProject (per-partition top-k, k·P driver merge).
    """
    WITH counts AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok HAVING COUNT(*) >= 5
    )
    SELECT tok, n, rank FROM (
      SELECT tok, n,
             CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS BIGINT) AS rank
      FROM counts
    ) WHERE rank <= 1000
    """,
)
def t21(spark, sf):
    """Vocabulary construction (BPE seed vocab): corpus token counts with
    a min-count floor, global top-1000 by (count, token) — one
    map-combinable groupBy + TakeOrderedAndProject, no global sort."""
    d = _t(spark, sf, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    counts = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    return (
        counts.orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(1000)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )


@_q(
    "s05_kmeans_assign",
    # ORACLE: distances accumulate as DECIMAL(38,18) over per-element
    # double diffs (exact-value conversions, one IEEE subtract+multiply
    # each — bit-identical across engines), so the argmin with
    # (distance, centroid index) tie-break is engine-deterministic.
    """
    WITH c AS (
      SELECT embedding AS cv,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
    ),
    d AS (
      SELECT e.vec_id, c.cidx,
             list_sum([CAST((CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            AS DECIMAL(38,18))
                       FOR i IN generate_series(1, len(e.embedding))]) AS d2
      FROM embeddings e CROSS JOIN c
    )
    SELECT vec_id, cidx AS cluster, ROUND(CAST(d2 AS DOUBLE), 6) AS dist2
    FROM (SELECT vec_id, cidx, d2,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY d2 ASC, cidx ASC) AS rn
          FROM d)
    WHERE rn = 1
    """,
)
def s05(spark, sf):
    """SemDeDup clustering primitive: nearest-centroid assignment over
    the embedding corpus, deterministic first-8 seeding
    (`operators/embeddings.py:kmeans_assign`)."""
    from duckdb_graphar_spark.operators.embeddings import kmeans_assign, seed_centroids

    e = _t(spark, sf, "embeddings")
    return kmeans_assign(e, seed_centroids(e, 8))


@_q(
    "s06_semdedup",
    # ORACLE: the s05 assignment CTE (decimal distances, deterministic
    # argmin) + within-cluster pair pruning at cosine ≥ 0.9 (round-6
    # double cosine is the d01-proven engine-stable form).
    """
    WITH c AS (
      SELECT embedding AS cv,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx
      FROM (SELECT * FROM embeddings ORDER BY vec_id
            LIMIT CAST(ceil(sqrt((SELECT COUNT(*) FROM embeddings))) AS BIGINT))
    ),
    d AS (
      SELECT e.vec_id, c.cidx,
             list_sum([CAST((CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            AS DECIMAL(38,18))
                       FOR i IN generate_series(1, len(e.embedding))]) AS d2
      FROM embeddings e CROSS JOIN c
    ),
    asg AS (
      SELECT vec_id, cidx AS cluster
      FROM (SELECT vec_id, cidx,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cidx ASC) AS rn
            FROM d)
      WHERE rn = 1
    ),
    m AS (SELECT asg.cluster, e.vec_id, e.embedding
          FROM asg JOIN embeddings e USING (vec_id))
    SELECT a.cluster, a.vec_id AS id_keep, b.vec_id AS id_drop,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.9
    """,
)
def s06(spark, sf):
    """SemDeDup: cluster-then-prune semantic dedup — the within-cluster
    pair sweep replaces d01's all-pairs O(n²) scan
    (`operators/embeddings.py:semdedup`).  k scales with the corpus
    (k = ⌈√n⌉) so within-cluster pair counts stay O(n) as data grows —
    a fixed k would go quadratic at 100×; the matching oracle derives
    the same k via a scalar-subquery LIMIT."""
    import math

    from duckdb_graphar_spark.operators.embeddings import semdedup, seed_centroids

    e = _t(spark, sf, "embeddings")
    k = math.ceil(math.sqrt(e.count()))
    return semdedup(e, seed_centroids(e, k), threshold=0.9)


@_q(
    "s16_semdedup_capped",
    # ORACLE: the s06 chain + the projection-slice split replayed
    # exactly — per-member decimal projection (integer weights
    # (j·2654435761 mod 97) − 48 over 0-based dims), per-cluster
    # (proj, vec_id) rank, slice = (rank−1) // 10, and the pair join
    # keyed on (cluster, sub).  Pairs straddling a slice cut are NOT
    # compared — the documented approximation, modeled identically.
    """
    WITH c AS (
      SELECT embedding AS cv,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx
      FROM (SELECT * FROM embeddings ORDER BY vec_id
            LIMIT CAST(ceil(sqrt((SELECT COUNT(*) FROM embeddings))) AS BIGINT))
    ),
    d AS (
      SELECT e.vec_id, c.cidx,
             list_sum([CAST((CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            AS DECIMAL(38,18))
                       FOR i IN generate_series(1, len(e.embedding))]) AS d2
      FROM embeddings e CROSS JOIN c
    ),
    asg AS (
      SELECT vec_id, cidx AS cluster
      FROM (SELECT vec_id, cidx,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cidx ASC) AS rn
            FROM d)
      WHERE rn = 1
    ),
    m AS (SELECT asg.cluster, e.vec_id, e.embedding
          FROM asg JOIN embeddings e USING (vec_id)),
    pr AS (
      SELECT cluster, vec_id, embedding,
             list_sum([CAST(CAST(embedding[i] AS DOUBLE)
                            * (((i - 1) * 2654435761) % 97 - 48)
                            AS DECIMAL(38,12))
                       FOR i IN generate_series(1, len(embedding))]) AS proj
      FROM m
    ),
    mm AS (
      SELECT cluster,
             CAST((row_number() OVER (PARTITION BY cluster
                                      ORDER BY proj, vec_id) - 1) // 10
                  AS BIGINT) AS sub,
             vec_id, embedding
      FROM pr
    )
    SELECT a.cluster, a.vec_id AS id_keep, b.vec_id AS id_drop,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM mm a JOIN mm b ON a.cluster = b.cluster AND a.sub = b.sub
                       AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
    """,
)
def s16(spark, sf):
    """SemDeDup with the `max_cluster_size` escape hatch ENGAGED — the
    production 100 TB shape (s06 is the exact-QA twin): every cluster
    is ranked along one deterministic decimal projection and cut into
    contiguous slices of ≤ 10 members, and the pair sweep keys on
    (cluster, slice) — O(n·cap·d) pairs + an O(n·d) split, however
    degenerate the coarse clustering gets (a secondary nearest-seed
    split would cost O(Σ|cluster|²/cap·d) — quadratic again — on
    exactly the inputs the cap exists for).  The cap deliberately
    BINDS at every fixture SF (mean cluster size ≈ √n ≥ 20), so the
    driver verifies the split path itself, not the trivially-uncapped
    fallthrough (`operators/embeddings.py:semdedup`)."""
    import math

    from duckdb_graphar_spark.operators.embeddings import semdedup, seed_centroids

    e = _t(spark, sf, "embeddings")
    k = math.ceil(math.sqrt(e.count()))
    # threshold 0.3, not s06's 0.9: the synthetic embeddings have no
    # >=0.9 pairs at ANY fixture SF (s06's check is legitimately 0-row;
    # the exact sweep is what it pins), and a 0-row capped entry would
    # never value-check the split path.  At 0.3 the driver compares
    # real (cluster, sub)-keyed pairs with real cosines.
    return semdedup(e, seed_centroids(e, k), threshold=0.3, max_cluster_size=10)


@_q(
    "s24_random_projection",
    # ORACLE: the same content-addressed Rademacher matrix — s(r,j) =
    # +1 iff ((r·2654435761 + j·40503 + 7) mod 97) is even — the same
    # DECIMAL(38,18) product sums (order-independent), the same ÷4
    # exact scaling (out_dim 16 is a perfect square), round 6.
    """
    SELECT vec_id, CAST(t.r AS INTEGER) AS r,
           ROUND(CAST(list_sum([
             CAST(CAST(embedding[j] AS DOUBLE)
                  * (CASE WHEN ((t.r * 2654435761 + (j - 1) * 40503 + 7) % 97) % 2 = 0
                          THEN 1 ELSE -1 END)
                  AS DECIMAL(38,18))
             FOR j IN generate_series(1, len(embedding))]) AS DOUBLE) / 4, 6) AS y
    FROM embeddings, UNNEST(generate_series(0, 15)) AS t(r)
    """,
)
def s24(spark, sf):
    """Johnson-Lindenstrauss random projection 64→16 dims with a
    deterministic Rademacher ±1 matrix (Achlioptas 2003) — the cheap
    dimensionality reduction run before ANN indexing/clustering at
    100 TB (4× less distance arithmetic downstream, distances
    preserved within the JL bound).  The matrix is content-addressed
    integer arithmetic (not sampled), embedded as literal arrays:
    pure map, no shuffle, no broadcast, decimal-exact sums
    (`operators/embeddings.py:random_projection`)."""
    from duckdb_graphar_spark.operators.embeddings import random_projection

    return random_projection(_t(spark, sf, "embeddings"), dim=64, out_dim=16)


@_q(
    "s21_semdedup_fixed_k",
    # ORACLE: s16's full chain with the one production difference —
    # k is FIXED at 64 (LIMIT 64, no sqrt scalar subquery).  Same
    # decimal assignment, same projection-slice split ((rank−1)//10),
    # same (cluster, sub)-keyed pair join, threshold 0.3.
    """
    WITH c AS (
      SELECT embedding AS cv,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 64)
    ),
    d AS (
      SELECT e.vec_id, c.cidx,
             list_sum([CAST((CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            AS DECIMAL(38,18))
                       FOR i IN generate_series(1, len(e.embedding))]) AS d2
      FROM embeddings e CROSS JOIN c
    ),
    asg AS (
      SELECT vec_id, cidx AS cluster
      FROM (SELECT vec_id, cidx,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cidx ASC) AS rn
            FROM d)
      WHERE rn = 1
    ),
    m AS (SELECT asg.cluster, e.vec_id, e.embedding
          FROM asg JOIN embeddings e USING (vec_id)),
    pr AS (
      SELECT cluster, vec_id, embedding,
             list_sum([CAST(CAST(embedding[i] AS DOUBLE)
                            * (((i - 1) * 2654435761) % 97 - 48)
                            AS DECIMAL(38,12))
                       FOR i IN generate_series(1, len(embedding))]) AS proj
      FROM m
    ),
    mm AS (
      SELECT cluster,
             CAST((row_number() OVER (PARTITION BY cluster
                                      ORDER BY proj, vec_id) - 1) // 10
                  AS BIGINT) AS sub,
             vec_id, embedding
      FROM pr
    )
    SELECT a.cluster, a.vec_id AS id_keep, b.vec_id AS id_drop,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM mm a JOIN mm b ON a.cluster = b.cluster AND a.sub = b.sub
                       AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
    """,
)
def s21(spark, sf):
    """SemDeDup in the PRODUCTION shape: k FIXED by compute budget
    (64, the SemDeDup paper's budgeted-centroids recipe) + the
    max_cluster_size cap engaged — next to the k=√n QA twins (s06
    exact, s16 capped) whose assignment cost is O(n^1.5·d) by
    construction.  With fixed k every term is O(n): assignment
    O(n·k·d), split O(n·d), pair sweep O(n·cap·d) — measured
    3.6×/decade at sf1→sf10 (BENCH_sf10_r06.json) where the √n shape
    measures ~110×/100×.  Same operator, same oracle chain as s16;
    the only delta is the k hyperparameter
    (`operators/embeddings.py:semdedup`)."""
    from duckdb_graphar_spark.operators.embeddings import semdedup, seed_centroids

    e = _t(spark, sf, "embeddings")
    return semdedup(e, seed_centroids(e, 64), threshold=0.3, max_cluster_size=10)


@_q(
    "s17_jaccard_similarity_join",
    # ORACLE: exact ALL-PAIRS Jaccard — deliberately NOT the prefix-
    # filtered plan, so it independently proves the prune lossless:
    # a pair the prefix filter wrongly dropped shows up here and
    # breaks the match.  Thresholding is integer (i·100 ≥ 95·union);
    # the jaccard column is one double division of exact integers,
    # rounded 6 — identical IEEE on both engines.
    """
    WITH tok AS (SELECT DISTINCT doc_id, t AS tok FROM (
           SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
           FROM documents) WHERE t <> ''),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT da AS doc_a, db AS doc_b,
           CAST(i AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS size_a,
           CAST(sb.n AS BIGINT) AS size_b,
           ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
    WHERE i * 100 >= 95 * (sa.n + sb.n - i)
    """,
)
def s17(spark, sf):
    """Exact Jaccard set-similarity JOIN at τ = 95/100 with lossless
    PREFIX FILTERING — the AllPairs/PPJoin prune: tokens ordered by
    global rarity, only each doc's |S|−⌈τ|S|⌉+1 rarest tokens become
    join keys, so stopwords never fan out and no qualifying pair is
    missed (the oracle is the UNPRUNED all-pairs plan — any lost pair
    breaks the match).  All pruning decisions are integer arithmetic
    (rational threshold, integer ceil); one double division at the end
    (`operators/dedup.py:jaccard_similarity_join`)."""
    from duckdb_graphar_spark.operators.dedup import jaccard_similarity_join

    return jaccard_similarity_join(
        _t(spark, sf, "documents"), threshold_num=95, threshold_den=100
    )


@_q(
    "s20_shingle_jaccard_join",
    # ORACLE: exact UNPRUNED all-pairs over the same 8-char shingle
    # sets (s17's independence discipline — a pair the prefix filter
    # wrongly dropped breaks the match).  Shingles are raw substrings
    # (no case folding), integer thresholding, one rounded division.
    """
    WITH tok AS (SELECT DISTINCT doc_id,
                        substring(text, CAST(i AS INTEGER), 8) AS tok
                 FROM documents,
                      UNNEST(generate_series(1, length(text) - 7)) AS t(i)
                 WHERE length(text) >= 8),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT da AS doc_a, db AS doc_b,
           CAST(i AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS size_a,
           CAST(sb.n AS BIGINT) AS size_b,
           ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
    WHERE i * 100 >= 95 * (sa.n + sb.n - i)
    """,
)
def s20(spark, sf):
    """s17's prefix-filtered Jaccard join over 8-char SHINGLES — the
    representation that keeps the prune effective when the word
    vocabulary degenerates: this fixture has 31 words (every word a
    stopword ⇒ word prefixes fan out ~13M candidate pairs at sf0.1)
    but ~46k shingles with a Zipf-ish df curve, so the rarest-shingle
    prefixes collapse the candidate set to ~10³ — the same lossless
    integer-arithmetic machinery, one parameter
    (`operators/dedup.py:jaccard_similarity_join(shingle_len=8)`)."""
    from duckdb_graphar_spark.operators.dedup import jaccard_similarity_join

    return jaccard_similarity_join(
        _t(spark, sf, "documents"),
        threshold_num=95,
        threshold_den=100,
        shingle_len=8,
    )


@_q(
    "s18_binary_hamming_topk",
    # ORACLE: the sign-packing replays exactly — bit i of word w is
    # embedding[32w+i] > 0 (strict, so 0.0 quantizes identically),
    # little-endian shifts into BIGINTs, Hamming = popcount(XOR) sums.
    # All-integer pipeline: no rounding discipline needed anywhere,
    # ranks tie-break on neighbor id.
    """
    WITH p AS (
      SELECT vec_id,
             CAST(list_sum([CASE WHEN embedding[CAST(i AS INTEGER) + 1] > 0
                            THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
                            ELSE CAST(0 AS BIGINT) END
                       FOR i IN generate_series(0, 31)]) AS BIGINT) AS w0,
             CAST(list_sum([CASE WHEN embedding[CAST(i AS INTEGER) + 33] > 0
                            THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
                            ELSE CAST(0 AS BIGINT) END
                       FOR i IN generate_series(0, 31)]) AS BIGINT) AS w1
      FROM embeddings),
    q AS (SELECT vec_id AS qid, w0 AS q0, w1 AS q1 FROM p WHERE vec_id < 3)
    SELECT query_id, neighbor_id, hamming, rank FROM (
      SELECT q.qid AS query_id, p.vec_id AS neighbor_id,
             CAST(bit_count(xor(p.w0, q.q0))
                  + bit_count(xor(p.w1, q.q1)) AS INTEGER) AS hamming,
             ROW_NUMBER() OVER (PARTITION BY q.qid
                                ORDER BY bit_count(xor(p.w0, q.q0))
                                         + bit_count(xor(p.w1, q.q1)),
                                         p.vec_id) AS rank
      FROM p CROSS JOIN q WHERE p.vec_id != q.qid
    ) WHERE rank <= 5
    """,
)
def s18(spark, sf):
    """Binary sign quantization + exact Hamming top-k — the 32×
    compression tier below int8 (s04) and PQ (s09): each vector packs
    to ⌈dim/32⌉ LONG words (bit = component > 0), distance is
    XOR + POPCOUNT — pure whole-stage-codegen integer arithmetic, the
    fastest distance a 100 TB index can evaluate and the standard
    first-stage filter before exact re-ranking.  Packed queries
    broadcast; scoring is shuffle-free; ranks are integer-deterministic
    (`operators/embeddings.py:binary_quantize,hamming_topk`)."""
    from duckdb_graphar_spark.operators.embeddings import hamming_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return hamming_topk(e, q, k=5, dim=64)


@_q(
    "s19_hamming_rerank_topk",
    # ORACLE: both stages replayed — s18's packing + hamming window at
    # m=20 (ties (ham, id)), then the s01 cosine discipline (rounded
    # score IS the sort key, ties by id) over ONLY the stage-1
    # candidates.  The hamming column pins stage-1 provenance: a
    # candidate that shouldn't have survived the prefilter can't
    # sneak in even with the right cosine.
    """
    WITH p AS (
      SELECT vec_id, embedding,
             CAST(list_sum([CASE WHEN embedding[CAST(i AS INTEGER) + 1] > 0
                            THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
                            ELSE CAST(0 AS BIGINT) END
                       FOR i IN generate_series(0, 31)]) AS BIGINT) AS w0,
             CAST(list_sum([CASE WHEN embedding[CAST(i AS INTEGER) + 33] > 0
                            THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
                            ELSE CAST(0 AS BIGINT) END
                       FOR i IN generate_series(0, 31)]) AS BIGINT) AS w1
      FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qv, w0 AS q0, w1 AS q1
          FROM p WHERE vec_id < 3),
    cand AS (SELECT qid, neighbor_id, hamming, qv, cv FROM (
      SELECT q.qid, p.vec_id AS neighbor_id,
             CAST(bit_count(xor(p.w0, q.q0))
                  + bit_count(xor(p.w1, q.q1)) AS INTEGER) AS hamming,
             q.qv, p.embedding AS cv,
             ROW_NUMBER() OVER (PARTITION BY q.qid
                                ORDER BY bit_count(xor(p.w0, q.q0))
                                         + bit_count(xor(p.w1, q.q1)),
                                         p.vec_id) AS hrank
      FROM p CROSS JOIN q WHERE p.vec_id != q.qid
    ) WHERE hrank <= 20)
    SELECT query_id, neighbor_id, hamming, cosine_sim, rank FROM (
      SELECT qid AS query_id, neighbor_id, hamming,
             ROUND(list_cosine_similarity(CAST(cv AS DOUBLE[]),
                                          CAST(qv AS DOUBLE[])), 6)
                 AS cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY ROUND(list_cosine_similarity(CAST(cv AS DOUBLE[]),
                                CAST(qv AS DOUBLE[])), 6) DESC,
                         neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= 5
    """,
)
def s19(spark, sf):
    """TWO-STAGE retrieval — the production 100 TB shape: s18's
    integer Hamming prefilter narrows each query to 20 candidates over
    the 32×-packed corpus (the tier that fits in memory), then exact
    cosine re-ranks ONLY those — float work drops from
    |corpus|·|queries| to 20·|queries| dot products, fetched by a
    candidate-sized join instead of a corpus scan.  Both stages
    deterministic, fully SQL-replayed
    (`operators/embeddings.py:hamming_rerank_topk`)."""
    from duckdb_graphar_spark.operators.embeddings import hamming_rerank_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return hamming_rerank_topk(e, q, k=5, m=20, dim=64)


@_q(
    "s25_sq8_rerank_topk",
    # ORACLE: the whole two-stage pipeline replayed — per-dimension
    # float min/max (exact) baked into list columns, the IDENTICAL
    # IEEE multiply-then-divide + floor code formula (constant dims
    # guarded to 0, no NaN path on either engine), integer dot-product
    # stage 1 at m=20 ((score, id) ties), then the s01/s19 cosine
    # discipline over only the survivors.  sq_score pins stage-1
    # provenance exactly like s19's hamming column.
    """
    WITH mm AS (
      SELECT t.i AS i,
             MIN(embedding[CAST(t.i AS INTEGER) + 1]) AS lo,
             MAX(embedding[CAST(t.i AS INTEGER) + 1]) AS hi
      FROM embeddings, range(0, 64) t(i) GROUP BY 1),
    ml AS (SELECT list(CAST(lo AS DOUBLE) ORDER BY i) AS los,
                  list(CAST(hi AS DOUBLE) ORDER BY i) AS his FROM mm),
    c AS (
      SELECT vec_id, embedding,
             [CASE WHEN his[CAST(i AS INTEGER) + 1] > los[CAST(i AS INTEGER) + 1]
                   THEN CAST(LEAST(CAST(255 AS DOUBLE), GREATEST(CAST(0 AS DOUBLE),
                        FLOOR((CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE)
                               - los[CAST(i AS INTEGER) + 1]) * 255.0
                              / (his[CAST(i AS INTEGER) + 1]
                                 - los[CAST(i AS INTEGER) + 1])))) AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END
              FOR i IN generate_series(0, 63)] AS codes
      FROM embeddings CROSS JOIN ml),
    q AS (SELECT vec_id AS query_id, embedding AS qv, codes AS qc
          FROM c WHERE vec_id < 3),
    sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                  CAST(list_sum([q.qc[CAST(i AS INTEGER) + 1]
                                 * c.codes[CAST(i AS INTEGER) + 1]
                                 FOR i IN generate_series(0, 63)]) AS BIGINT)
                      AS sq_score,
                  q.qv, c.embedding AS cv
           FROM c CROSS JOIN q WHERE c.vec_id != q.query_id),
    cand AS (SELECT query_id, neighbor_id, sq_score, qv, cv FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY sq_score DESC, neighbor_id) AS srank
               FROM sc) WHERE srank <= 20)
    SELECT query_id, neighbor_id, sq_score, cosine_sim, rank FROM (
      SELECT query_id, neighbor_id, sq_score,
             ROUND(list_cosine_similarity(CAST(cv AS DOUBLE[]),
                                          CAST(qv AS DOUBLE[])), 6) AS cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY ROUND(list_cosine_similarity(CAST(cv AS DOUBLE[]),
                                CAST(qv AS DOUBLE[])), 6) DESC,
                         neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= 5
    """,
)
def s25(spark, sf):
    """SCALAR-QUANTIZED two-stage retrieval (FAISS-SQ8 shape): per-
    dimension uint8 codes from one map-combinable min/max aggregate
    (dim rows collected, baked as plan literals), an integer
    dot-product broadcast scan to 20 candidates per query, exact
    cosine re-rank to top-5 — the code table is what scans at 100 TB,
    floats are a candidate-sized join
    (`operators/embeddings.py:sq8_rerank_topk`)."""
    from duckdb_graphar_spark.operators.embeddings import sq8_rerank_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sq8_rerank_topk(e, q, k=5, m=20, dim=64)


@_q(
    "s07_kmeans_update",
    # ORACLE: s05's assignment CTE, then per-(cluster, dim) DECIMAL sums
    # → means → ordered list per cluster (list(... ORDER BY) mirrors the
    # sort_array'd collect on the Spark side).
    """
    WITH c AS (
      SELECT embedding AS cv,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
    ),
    d AS (
      SELECT e.vec_id, c.cidx,
             list_sum([CAST((CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            AS DECIMAL(38,18))
                       FOR i IN generate_series(1, len(e.embedding))]) AS d2
      FROM embeddings e CROSS JOIN c
    ),
    asg AS (
      SELECT vec_id, cidx AS cluster
      FROM (SELECT vec_id, cidx,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cidx ASC) AS rn
            FROM d)
      WHERE rn = 1
    ),
    x AS (
      SELECT asg.cluster,
             unnest([{'p': i, 'x': CAST(e.embedding[i] AS DOUBLE)}
                     FOR i IN generate_series(1, len(e.embedding))]) AS u
      FROM asg JOIN embeddings e USING (vec_id)
    ),
    per AS (
      SELECT cluster, u['p'] AS pos,
             SUM(CAST(u['x'] AS DECIMAL(38,18))) AS s, COUNT(*) AS n
      FROM x GROUP BY 1, 2
    )
    SELECT cluster, CAST(MAX(n) AS BIGINT) AS n,
           array_to_string(
             list(printf('%.6f', ROUND(CAST(s AS DOUBLE) / n, 6) + 0.0) ORDER BY pos),
             ',') AS centroid
    FROM per GROUP BY cluster
    """,
)
def s07(spark, sf):
    """Lloyd's k-means centroid update (the reduce half of an iteration;
    s05 is the map half) — `operators/embeddings.py:kmeans_update`.
    The library API returns the centroid as array<double>; the declared
    driver output serializes it to a '%.6f'-joined string because the
    correctness driver's pandas canonicalizer cannot hash list cells
    (r3 ERR)."""
    from duckdb_graphar_spark.operators.embeddings import kmeans_update, seed_centroids

    e = _t(spark, sf, "embeddings")
    return kmeans_update(e, seed_centroids(e, 8)).withColumn(
        "centroid", _stringify_vec("centroid")
    )


@_q(
    "s08_kmeans_fit",
    # ORACLE: Lloyd's loop unrolled — two full assignment+update rounds
    # chained as CTEs.  Iteration-2 distances use iteration-1's ROUND-6
    # published centroids (exactly what the Spark driver loop feeds
    # back), so the fixed-iteration replay is bit-exact end to end.
    """WITH c0 AS (
  SELECT embedding AS cv,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)
),
d1 AS (
  SELECT e.vec_id, c.cidx,
         list_sum([CAST((CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                        * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                        AS DECIMAL(38,18))
                   FOR i IN generate_series(1, len(e.embedding))]) AS d2
  FROM embeddings e CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, cidx AS cluster
  FROM (SELECT vec_id, cidx,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cidx ASC) AS rn
        FROM d1)
  WHERE rn = 1
),
x1 AS (
  SELECT a1.cluster,
         unnest([{'p': i, 'x': CAST(e.embedding[i] AS DOUBLE)}
                 FOR i IN generate_series(1, len(e.embedding))]) AS u
  FROM a1 JOIN embeddings e USING (vec_id)
),
p1 AS (
  SELECT cluster, u['p'] AS pos,
         SUM(CAST(u['x'] AS DECIMAL(38,18))) AS s, COUNT(*) AS n
  FROM x1 GROUP BY 1, 2
),
u1 AS (
  SELECT cluster, CAST(MAX(n) AS BIGINT) AS n,
         list(ROUND(CAST(s AS DOUBLE) / n, 6) ORDER BY pos) AS centroid
  FROM p1 GROUP BY cluster
),
c1 AS (SELECT centroid AS cv, cluster AS cidx FROM u1),
d2_ AS (
  SELECT e.vec_id, c.cidx,
         list_sum([CAST((CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                        * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                        AS DECIMAL(38,18))
                   FOR i IN generate_series(1, len(e.embedding))]) AS d2
  FROM embeddings e CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, cidx AS cluster
  FROM (SELECT vec_id, cidx,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cidx ASC) AS rn
        FROM d2_)
  WHERE rn = 1
),
x2 AS (
  SELECT a2.cluster,
         unnest([{'p': i, 'x': CAST(e.embedding[i] AS DOUBLE)}
                 FOR i IN generate_series(1, len(e.embedding))]) AS u
  FROM a2 JOIN embeddings e USING (vec_id)
),
p2 AS (
  SELECT cluster, u['p'] AS pos,
         SUM(CAST(u['x'] AS DECIMAL(38,18))) AS s, COUNT(*) AS n
  FROM x2 GROUP BY 1, 2
)
SELECT cluster, CAST(MAX(n) AS BIGINT) AS n,
       array_to_string(
         list(printf('%.6f', ROUND(CAST(s AS DOUBLE) / n, 6) + 0.0) ORDER BY pos),
         ',') AS centroid
FROM p2 GROUP BY cluster""",
)
def s08(spark, sf):
    """Composed k-means: the driver loop over assign -> update
    (`operators/embeddings.py:kmeans_fit`), k=4, two iterations, with
    per-iteration decimal-exact inertia in the returned history.  Driver
    state is k rows of round-6 centroids per iteration; each iteration
    is one shuffle-free assignment plus the k*d partial-sum update
    shuffle."""
    from duckdb_graphar_spark.operators.embeddings import kmeans_fit

    e = _t(spark, sf, "embeddings")
    final, _history = kmeans_fit(e, 4, 2)
    # string-serialize the centroid array for the driver's pandas canon
    return final.withColumn("centroid", _stringify_vec("centroid"))


@_q(
    "st08_foreach_batch_sink",
    # ORACLE: what the foreachBatch parquet sink persisted must equal the
    # batch filter over the same input.
    """
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events WHERE event_type = 'purchase'
    """,
)
def st08(spark, sf):
    """foreachBatch sink (§2.E sink surface): stream the purchase events
    into per-batch-id parquet directories (idempotent overwrite-per-batch
    = exactly-once on retry), then read the sink back."""
    import tempfile

    from duckdb_graphar_spark.streaming.ops import read_events_stream
    from duckdb_graphar_spark.streaming.sinks import (
        foreach_batch_parquet_sink,
        read_parquet_sink,
    )

    out_dir = tempfile.mkdtemp(prefix="st08_sink_")
    stream = read_events_stream(spark, f"{sf}/events.parquet")
    filtered = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    foreach_batch_parquet_sink(filtered, out_dir)
    return read_parquet_sink(spark, out_dir)


_PQ_BEST_CTE = """
WITH c AS (
  SELECT embedding AS cv, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
),
sub AS (SELECT unnest(generate_series(0,3)) AS j),
d AS (
  SELECT e.vec_id, s.j, c.cidx,
         list_sum([CAST((CAST(e.embedding[s.j*16 + i] AS DOUBLE) - CAST(c.cv[s.j*16 + i] AS DOUBLE))
                        * (CAST(e.embedding[s.j*16 + i] AS DOUBLE) - CAST(c.cv[s.j*16 + i] AS DOUBLE))
                        AS DECIMAL(38,18)) FOR i IN generate_series(1,16)]) AS d2
  FROM embeddings e CROSS JOIN sub s CROSS JOIN c
),
best AS (SELECT vec_id, j, cidx, d2,
                row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cidx) AS rn FROM d)
"""


def _pq_books(e):
    from duckdb_graphar_spark.operators.embeddings import seed_centroids

    seeds = seed_centroids(e, 8)
    return [[(i, v[j * 16 : (j + 1) * 16]) for i, v in seeds] for j in range(4)]


@_q(
    "s09_pq_encode",
    # ORACLE: the s05 decimal-argmin CTE applied per 16-dim subspace
    # slice; recon sums the 4 per-subspace decimals EXACTLY before the
    # one double cast — bit-identical to the operator's discipline.
    _PQ_BEST_CTE
    + """
    SELECT vec_id, array_to_string(list(cidx ORDER BY j), ',') AS codes,
           ROUND(CAST(SUM(d2) AS DOUBLE), 6) AS recon_dist2
    FROM best WHERE rn = 1 GROUP BY vec_id
    """,
)
def s09(spark, sf):
    """Product-quantization encode (Jégou et al. 2011): m=4 subspaces ×
    8 deterministic seed codes, per-vector code tuple + exact
    reconstruction error — a shuffle-free projection whose codebooks
    are m·k literal arrays (`operators/embeddings.py:pq_encode`).
    The library keeps `codes` as array<int>; the declared output joins
    it to a ','-string for the driver's pandas canon (unhashable-list
    hazard, same class as the r3 s07/s08 ERRs)."""
    from duckdb_graphar_spark.operators.embeddings import pq_encode

    e = _t(spark, sf, "embeddings")
    return pq_encode(e, _pq_books(e)).withColumn(
        "codes", F.concat_ws(",", F.expr("transform(codes, x -> cast(x as string))"))
    )


@_q(
    "s10_pq_adc_topk",
    # ORACLE: re-derive each vector's chosen centroid per subspace
    # (best CTE), then the query-to-centroid decimal distances — the
    # exact numbers the operator's constant-folded lookup tables hold.
    _PQ_BEST_CTE
    + """
    , q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ad AS (
      SELECT b.vec_id,
             SUM(list_sum([CAST((CAST(q.qv[b.j*16 + i] AS DOUBLE) - CAST(c2.cv[b.j*16 + i] AS DOUBLE))
                                * (CAST(q.qv[b.j*16 + i] AS DOUBLE) - CAST(c2.cv[b.j*16 + i] AS DOUBLE))
                                AS DECIMAL(38,18)) FOR i IN generate_series(1,16)])) AS a2
      FROM best b JOIN c c2 ON c2.cidx = b.cidx CROSS JOIN q
      WHERE b.rn = 1 GROUP BY b.vec_id
    )
    SELECT vec_id, ROUND(CAST(a2 AS DOUBLE), 6) AS approx_dist2
    FROM ad ORDER BY approx_dist2, vec_id LIMIT 10
    """,
)
def s10(spark, sf):
    """PQ asymmetric-distance top-10 around the vec_id-0 query: per-row
    work is m element_at lookups into constant-folded decimal distance
    tables — the codes-only search path
    (`operators/embeddings.py:pq_adc_topk`)."""
    from duckdb_graphar_spark.operators.embeddings import pq_adc_topk

    e = _t(spark, sf, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return pq_adc_topk(e, _pq_books(e), q, k=10)


@_q(
    "g13_sssp",
    # ORACLE: the 4 Bellman-Ford relaxations unrolled as a linear CTE
    # chain (pagerank's fixed-iteration recipe) — each d_i is the exact
    # min distance over paths of ≤ i edges; integer weights, so no
    # float discipline is needed anywhere.
    f"""
    WITH e AS (SELECT src, dst, 1 + (src + dst) % 7 AS w FROM ({_E_SQL}) base),
    d0 AS (SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist),
    d1 AS (SELECT id, MIN(dist) AS dist FROM (
             SELECT * FROM d0
             UNION ALL SELECT e.dst, d0.dist + e.w FROM d0 JOIN e ON e.src = d0.id
           ) GROUP BY id),
    d2 AS (SELECT id, MIN(dist) AS dist FROM (
             SELECT * FROM d1
             UNION ALL SELECT e.dst, d1.dist + e.w FROM d1 JOIN e ON e.src = d1.id
           ) GROUP BY id),
    d3 AS (SELECT id, MIN(dist) AS dist FROM (
             SELECT * FROM d2
             UNION ALL SELECT e.dst, d2.dist + e.w FROM d2 JOIN e ON e.src = d2.id
           ) GROUP BY id),
    d4 AS (SELECT id, MIN(dist) AS dist FROM (
             SELECT * FROM d3
             UNION ALL SELECT e.dst, d3.dist + e.w FROM d3 JOIN e ON e.src = d3.id
           ) GROUP BY id)
    SELECT id, dist FROM d4
    """,
)
def g13(spark, sf):
    """Weighted single-source shortest paths from vertex 0 (4
    Bellman-Ford min-plus rounds over deterministic integer weights
    1+(src+dst)%7, `operators/graph.py:sssp`) — per round one
    dist⋈edges shuffle join + one map-combinable groupBy MIN; the
    distance table stays distributed, no frontier state, no driver
    round-trips inside the loop."""
    from duckdb_graphar_spark.operators.graph import sssp

    e = _edges(spark, sf).withColumn(
        "w", F.lit(1) + (F.col("src") + F.col("dst")) % F.lit(7)
    )
    return sssp(e, 0, n_iters=4, src_col="src", dst_col="dst", weight_col="w")


@_q(
    "g14_kcore",
    # ORACLE: the 3 peel rounds unrolled — degree over the current
    # subgraph, alive = deg>=3, edges filtered to alive endpoints; the
    # published row set is the degree table of the round-3 subgraph.
    f"""
    WITH raw AS ({_E_SQL}),
    e0 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
           FROM raw WHERE src <> dst),
    d1 AS (SELECT v, COUNT(*) AS deg FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
    a1 AS (SELECT v FROM d1 WHERE deg >= 3),
    e1 AS (SELECT e.a, e.b FROM e0 e JOIN a1 x ON e.a = x.v JOIN a1 y ON e.b = y.v),
    d2 AS (SELECT v, COUNT(*) AS deg FROM (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1) GROUP BY v),
    a2 AS (SELECT v FROM d2 WHERE deg >= 3),
    e2 AS (SELECT e.a, e.b FROM e1 e JOIN a2 x ON e.a = x.v JOIN a2 y ON e.b = y.v),
    d3 AS (SELECT v, COUNT(*) AS deg FROM (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2) GROUP BY v),
    a3 AS (SELECT v FROM d3 WHERE deg >= 3),
    e3 AS (SELECT e.a, e.b FROM e2 e JOIN a3 x ON e.a = x.v JOIN a3 y ON e.b = y.v)
    SELECT v AS id, COUNT(*) AS degree
    FROM (SELECT a AS v FROM e3 UNION ALL SELECT b FROM e3) GROUP BY v
    """,
)
def g14(spark, sf):
    """Fixed-iteration k-core peeling (k=3, 3 rounds) over the
    undirected order graph — per round one map-combinable degree
    groupBy + two vertex semi-joins; the edge relation shrinks
    monotonically (`operators/graph.py:kcore`)."""
    from duckdb_graphar_spark.operators.graph import kcore

    return kcore(_edges(spark, sf), 3, n_iters=3, src_col="src", dst_col="dst")


@_q(
    "t35_char_ngram_profile",
    # ORACLE: exact trigram counts via generate_series + substring
    # (1-based on both engines, spaces included), top-10 per language
    # with (count desc, ngram asc) determinism.
    """
    WITH g AS (
      SELECT lang, substring(text, CAST(i AS INTEGER), 3) AS ngram
      FROM documents,
           UNNEST(generate_series(1, length(text) - 2)) AS t(i)
      WHERE length(text) >= 3
    ),
    c AS (SELECT lang, ngram, COUNT(*) AS cnt FROM g GROUP BY lang, ngram)
    SELECT lang, ngram, cnt, rank FROM (
      SELECT lang, ngram, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, ngram ASC) AS rank
      FROM c
    ) WHERE rank <= 10
    """,
)
def t35(spark, sf):
    """Character-trigram frequency profiles per language — the
    TRAINING side of n-gram language ID (t02 applies the heuristic;
    this builds the model): row-local gram explode, ONE map-combinable
    (lang, ngram) count (the vocabulary shuffles, never the corpus),
    per-language top-10 window over the aggregate
    (`operators/text.py:char_ngram_profile`)."""
    from duckdb_graphar_spark.operators.text import char_ngram_profile

    return char_ngram_profile(_t(spark, sf, "documents"), n=3, k=10)


@_q(
    "t37_language_id_classify",
    # ORACLE: the whole classifier is integer arithmetic — profile
    # weights k+1−rank with (count DESC, ngram ASC) rank ties, scores
    # are integer weight sums over gram OCCURRENCES, argmax ties break
    # language ASC — so the confusion matrix replays exactly: train,
    # score, predict, and count all in one SQL chain.
    """
    WITH g AS (
      SELECT doc_id, lang, substring(text, CAST(i AS INTEGER), 3) AS ngram
      FROM documents,
           UNNEST(generate_series(1, length(text) - 2)) AS t(i)
      WHERE length(text) >= 3
    ),
    c AS (SELECT lang, ngram, COUNT(*) AS cnt FROM g GROUP BY lang, ngram),
    prof AS (SELECT lang AS cand, ngram, 51 - rank AS w FROM (
               SELECT lang, ngram,
                      ROW_NUMBER() OVER (PARTITION BY lang
                                         ORDER BY cnt DESC, ngram ASC) AS rank
               FROM c) WHERE rank <= 50),
    scores AS (SELECT g.doc_id, g.lang, p.cand, SUM(p.w) AS score
               FROM g JOIN prof p ON g.ngram = p.ngram
               GROUP BY 1, 2, 3),
    pred AS (SELECT lang, cand AS pred_lang FROM (
               SELECT lang, cand,
                      ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, cand ASC) AS rn
               FROM scores) WHERE rn = 1)
    SELECT lang, pred_lang, COUNT(*) AS n_docs
    FROM pred GROUP BY 1, 2
    """,
)
def t37(spark, sf):
    """Language-ID CLASSIFICATION — the apply side of t35's trigram
    training: every document scored against every language's top-50
    weighted trigram profile (simplified Cavnar-Trenkle, all-integer
    weights), argmax prediction, confusion-matrix counts.  The tiny
    profile table BROADCASTS against the row-local gram explode — the
    corpus never shuffles by n-gram; the per-(doc, candidate) score
    aggregate is map-combinable so the one doc-keyed shuffle carries ≤
    docs × langs combined rows (`operators/text.py:classify_language`)."""
    from duckdb_graphar_spark.operators.text import classify_language

    return classify_language(_t(spark, sf, "documents"), n=3, k=50)


@_q(
    "t41_url_canonical_dedup",
    # ORACLE: both engines synthesize the same deterministic URL
    # variants (mixed scheme case, www./bare, upper-cased hosts, utm_*
    # tracking params in every position, fragments, trailing slashes —
    # the fixture has no URL column, and an all-unique canonicalization
    # proves nothing), then apply the LITERALLY identical RE2-safe
    # regex pipeline and group.  n_variants > 1 rows pin that the
    # normalization actually merges spellings.
    """
    WITH u AS (
      SELECT doc_id,
             (CASE doc_id % 3 WHEN 0 THEN 'https://' WHEN 1 THEN 'http://'
                              ELSE 'HTTPS://' END)
             || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN UPPER(source) ELSE source END)
             || '.example.com/articles/' || CAST(doc_id % 40 AS VARCHAR)
             || (CASE WHEN doc_id % 5 = 0 AND doc_id % 4 = 3 THEN '/' ELSE '' END)
             || (CASE doc_id % 4
                 WHEN 0 THEN '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR)
                 WHEN 1 THEN '?id=' || CAST(doc_id % 20 AS VARCHAR) || '&utm_medium=email'
                 WHEN 2 THEN '?utm_term=x&id=' || CAST(doc_id % 20 AS VARCHAR)
                 ELSE '' END)
             || (CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END) AS url
      FROM documents
    ),
    c AS (
      SELECT doc_id, url,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(LOWER(url), '#.*$', '', 'g'),
                         '^https?://', '', 'g'),
                       '^www\\.', '', 'g'),
                     '([?&])(utm_[a-z]+=[^&]*&)+', '\\1', 'g'),
                   '[?&]utm_[a-z]+=[^&]*$', '', 'g'),
                 '\\?$', '', 'g'),
               '/$', '', 'g') AS canonical_url
      FROM u
    )
    SELECT canonical_url, COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants,
           MIN(doc_id) AS first_doc
    FROM c GROUP BY 1
    """,
)
def t41(spark, sf):
    """URL canonicalization dedup — the CCNet/C4 web-corpus key:
    lowercase, strip fragment/scheme/www./utm_* tracking params and
    the dangling delimiters, then group (canonical → doc count,
    spelling-variant count, keep-first representative).  Pure
    JVM-side regexp_replace composition, RE2-compatible patterns
    (`operators/text.py:canonicalize_url`); the shuffle carries only
    the canonical key, never document text."""
    from duckdb_graphar_spark.operators.text import canonicalize_url

    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 3 == 0, F.lit("https://"))
        .when(d % 3 == 1, F.lit("http://"))
        .otherwise(F.lit("HTTPS://")),
        F.when(d % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.upper(F.col("source"))).otherwise(F.col("source")),
        F.lit(".example.com/articles/"),
        (d % 40).cast("string"),
        F.when((d % 5 == 0) & (d % 4 == 3), F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.concat(F.lit("?utm_source=feed&utm_campaign=c"), (d % 3).cast("string")))
        .when(d % 4 == 1, F.concat(F.lit("?id="), (d % 20).cast("string"), F.lit("&utm_medium=email")))
        .when(d % 4 == 2, F.concat(F.lit("?utm_term=x&id="), (d % 20).cast("string")))
        .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    docs = _t(spark, sf, "documents").select(d.alias("doc_id"), url.alias("url"))
    return (
        docs.withColumn("canonical_url", canonicalize_url(F.col("url")))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_variants"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@_q(
    "t42_greedy_pack_bins",
    # ORACLE: the capped-accumulator recurrence replayed with a
    # recursive CTE over row_number-ordered per-shard documents (q93's
    # oracle pattern — each break depends on the bin total the previous
    # breaks chose, which no gaps-and-islands window expresses); a doc
    # larger than the budget takes its own bin and the accumulator
    # carries its overflow, pushing the NEXT doc into a fresh bin —
    # the corner both sides must agree on.
    """
    WITH RECURSIVE t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                  END AS BIGINT) AS n_tokens
      FROM documents
    ),
    o AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id)
                 AS rn
          FROM t),
    r(shard, rn, doc_id, n_tokens, acc, bin) AS (
      SELECT shard, rn, doc_id, n_tokens, n_tokens, 0 FROM o WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
             CASE WHEN r.acc + o.n_tokens > 256 THEN o.n_tokens
                  ELSE r.acc + o.n_tokens END,
             CASE WHEN r.acc + o.n_tokens > 256 THEN r.bin + 1 ELSE r.bin END
      FROM r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1
    )
    SELECT doc_id, shard, n_tokens, CAST(bin AS BIGINT) AS bin,
           n_tokens > 256 AS oversize
    FROM r
    """,
)
def t42(spark, sf):
    """Greedy sample packing WITHOUT document splitting (the padding-
    waste/no-straddle alternative to t17's concat-and-chunk): walk each
    shard's docs in id order, new bin when the total would exceed 256
    tokens; oversize docs get their own flagged bin.  The bin id is a
    capped-accumulator recurrence (q93's class — unwindowable), so the
    scan is SHARDED by contract (doc_id % 8) and each shard folds
    vectorized — cumsum + one searchsorted per BIN
    (`operators/packing.py:greedy_pack_bins`)."""
    from duckdb_graphar_spark.operators.packing import greedy_pack_bins
    from duckdb_graphar_spark.operators.text import token_count

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        token_count(F.col("text")).alias("n_tok"),
    )
    return greedy_pack_bins(
        docs, id_col="doc_id", token_col="n_tok", shard_col="shard", budget=256
    )


@_q(
    "t40_fingerprint_decontam",
    # ORACLE: t38's winnowing SQL on both halves (train = even doc_id,
    # eval = odd), distinct train fingerprints, one semi-join, and the
    # same integer-gated ratio — any clamp/selection drift between the
    # two winnowing passes shows up as a flipped flag.
    """
    WITH g AS (
      SELECT doc_id,
             [CAST(CAST(concat('0x', substr(md5(substr(text,
                    CAST(i AS INTEGER), 5)), 1, 13)) AS UBIGINT) AS BIGINT)
              FOR i IN generate_series(1, length(text) - 4)] AS hs
      FROM documents WHERE length(text) >= 5),
    w AS (
      SELECT doc_id,
             list_distinct([list_min(list_slice(hs, CAST(j AS INTEGER),
                                  CAST(j AS INTEGER) + 3))
              FOR j IN generate_series(1, greatest(len(hs) - 3, 1))]) AS fps
      FROM g),
    train AS (SELECT DISTINCT UNNEST(fps) AS fingerprint FROM w
              WHERE doc_id % 2 = 0),
    ev AS (SELECT doc_id, UNNEST(fps) AS fingerprint FROM w
           WHERE doc_id % 2 = 1),
    n AS (SELECT doc_id, COUNT(*) AS n_fp FROM ev GROUP BY 1),
    h AS (SELECT ev.doc_id, COUNT(*) AS n_hit FROM ev
          SEMI JOIN train ON train.fingerprint = ev.fingerprint
          GROUP BY 1)
    SELECT n.doc_id,
           CAST(n.n_fp AS BIGINT) AS n_fp,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / n.n_fp, 6)
               AS hit_frac,
           COALESCE(h.n_hit, 0) * 10 > n.n_fp AS contaminated
    FROM n LEFT JOIN h ON h.doc_id = n.doc_id
    """,
)
def t40(spark, sf):
    """Fingerprint-level DECONTAMINATION — winnowing (t38) pointed at
    eval-set leakage: an eval doc (odd doc_id half of the fixture) is
    flagged when >10% of its fingerprints appear anywhere in the
    training half — catching PARTIAL copies (any shared ≥ w+k−1-char
    substring plants a shared fingerprint) where hash dedup only
    catches full ones.  The corpus reduces to its distinct fingerprint
    set before the ONLY join (a broadcast semi-join at 100 TB — never
    text-to-text); the flag is integer-gated
    (`operators/text.py:fingerprint_decontamination`)."""
    from duckdb_graphar_spark.operators.text import (
        fingerprint_decontamination,
    )

    docs = _t(spark, sf, "documents")
    return fingerprint_decontamination(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        threshold_num=1,
        threshold_den=10,
    )


@_q(
    "t38_winnow_fingerprints",
    # ORACLE: the whole selection replays — md5-integer k-gram hashes,
    # list-slice window minima (DuckDB's list_slice clamps at the end
    # exactly like Spark's slice, covering the short-text single-window
    # case), distinct per doc, then the same integer aggregate.  Any
    # off-by-one in gram positions, window starts, or the clamp shows
    # up in n_fp/sum_fp immediately.
    """
    WITH g AS (
      SELECT doc_id,
             [CAST(CAST(concat('0x', substr(md5(substr(text,
                    CAST(i AS INTEGER), 5)), 1, 13)) AS UBIGINT) AS BIGINT)
              FOR i IN generate_series(1, length(text) - 4)] AS hs
      FROM documents WHERE length(text) >= 5),
    w AS (
      SELECT doc_id, len(hs) AS n,
             [list_min(list_slice(hs, CAST(j AS INTEGER),
                                  CAST(j AS INTEGER) + 3))
              FOR j IN generate_series(1, greatest(len(hs) - 3, 1))] AS mins
      FROM g),
    fp AS (SELECT doc_id, n, UNNEST(list_distinct(mins)) AS fingerprint FROM w)
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_fp,
           CAST(MIN(fingerprint) AS BIGINT) AS min_fp,
           CAST(SUM(fingerprint) AS BIGINT) AS sum_fp
    FROM fp GROUP BY doc_id
    """,
)
def t38(spark, sf):
    """Winnowing fingerprints (the MOSS plagiarism/near-dup primitive):
    per-document k-gram md5 hashes → sliding-window minima → distinct
    fingerprint set, selected entirely ROW-LOCALLY (array transforms in
    whole-stage codegen, no shuffle) yet guaranteeing any ≥ w+k−1-char
    shared substring yields a shared fingerprint across documents —
    the coordination-free dedup signal.  Entry aggregates per-doc
    (count, min, sum) pins; ~2/(w+1) density bound keeps the
    fingerprint set small (`operators/text.py:winnow_fingerprints`)."""
    from duckdb_graphar_spark.operators.text import winnow_fingerprints

    fp = winnow_fingerprints(_t(spark, sf, "documents"), k=5, w=4)
    ng = F.expr("length(text) - 4")
    grams = (
        _t(spark, sf, "documents")
        .filter(F.length("text") >= 5)
        .select("doc_id", ng.alias("__n"))
    )
    return (
        fp.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fp"),
            F.min("fingerprint").cast("long").alias("min_fp"),
            F.sum("fingerprint").cast("long").alias("sum_fp"),
        )
        .join(grams, "doc_id")
        .select(
            "doc_id",
            F.col("__n").cast("long").alias("n_grams"),
            "n_fp",
            "min_fp",
            "sum_fp",
        )
    )


@_q(
    "t39_gopher_quality_flags",
    # ORACLE: every rule replays — list comprehensions over the same
    # whitespace tokens, the same cross-multiplied integer rationals
    # (no division, no float thresholds), the same 8-stopword
    # intersection.  A tokenization or threshold-direction bug flips
    # specific flags on specific docs.
    """
    WITH w AS (
      SELECT doc_id,
             [x FOR x IN string_split_regex(text, '\\s+') IF x <> ''] AS ws
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             len(ws) AS n_words,
             CAST(COALESCE(list_sum([length(x) FOR x IN ws]), 0) AS INTEGER)
               AS total_word_chars,
             len([x FOR x IN ws IF regexp_matches(x, '[A-Za-z]')])
               AS n_alpha_words,
             len([x FOR x IN ws IF contains(x, '#') OR contains(x, '...')
                  OR contains(x, '…')]) AS n_symbol_words,
             len(list_intersect(list_distinct([lower(x) FOR x IN ws]),
                 ['the','be','to','of','and','that','have','with']))
               AS n_stop_hits
      FROM w
    )
    SELECT doc_id, n_words, total_word_chars, n_alpha_words,
           n_symbol_words, n_stop_hits,
           (n_words >= 5 AND n_words <= 100000) AS ok_word_count,
           (total_word_chars >= 3 * n_words
            AND total_word_chars <= 10 * n_words) AS ok_mean_word_len,
           (n_symbol_words * 100 <= 10 * n_words) AS ok_symbol_ratio,
           (n_alpha_words * 100 >= 80 * n_words) AS ok_alpha_words,
           (n_stop_hits >= 2) AS ok_stopwords,
           ((n_words >= 5 AND n_words <= 100000)
            AND (total_word_chars >= 3 * n_words
                 AND total_word_chars <= 10 * n_words)
            AND (n_symbol_words * 100 <= 10 * n_words)
            AND (n_alpha_words * 100 >= 80 * n_words)
            AND (n_stop_hits >= 2)) AS pass_gopher
    FROM c
    """,
)
def t39(spark, sf):
    """The GOPHER quality-filter rule set (Rae et al. 2021 — the
    industry-standard pre-training document filter): word-count
    bounds, mean-word-length bounds, symbol-to-word ratio, alpha-word
    fraction, stopword presence — every rule a cross-multiplied
    INTEGER rational (no division, no float thresholds to drift), the
    whole filter row-local in whole-stage codegen with zero shuffle
    (`operators/text.py:gopher_quality_flags`)."""
    from duckdb_graphar_spark.operators.text import gopher_quality_flags

    g = gopher_quality_flags(_t(spark, sf, "documents"))
    return g.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        F.col("total_word_chars").cast("int").alias("total_word_chars"),
        F.col("n_alpha_words").cast("int").alias("n_alpha_words"),
        F.col("n_symbol_words").cast("int").alias("n_symbol_words"),
        F.col("n_stop_hits").cast("int").alias("n_stop_hits"),
        "ok_word_count",
        "ok_mean_word_len",
        "ok_symbol_ratio",
        "ok_alpha_words",
        "ok_stopwords",
        "pass_gopher",
    )


@_q(
    "t36_weighted_sample",
    # ORACLE: the A-Res key replayed exactly — u is integer md5
    # arithmetic + ONE division by 2^52+1 (both exactly representable,
    # identical IEEE quotient), ln over the identical double, divided
    # by the integer weight.  Selection uses full precision with
    # doc_id tie-breaks; the published score rounds to 6.
    """
    WITH s AS (
      SELECT doc_id, n_chars AS weight,
             ln((CAST(concat('0x', substr(md5(concat('epoch0', chr(31),
                   CAST(doc_id AS VARCHAR))), 1, 13)) AS UBIGINT) + 1)
                / 4503599627370497.0) / n_chars AS score
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, weight, ROUND(score, 6) AS score, rank FROM (
      SELECT doc_id, weight, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM s
    ) WHERE rank <= 50
    """,
)
def t36(spark, sf):
    """Weighted sampling without replacement (A-Res, Efraimidis &
    Spirakis) with CONTENT-ADDRESSED randomness — the training-mixture
    primitive: documents sampled proportionally to length with a
    bit-reproducible md5-derived key instead of an RNG, so the sample
    is stable across engines/partitionings/reruns.  Stateless scoring
    + one TakeOrdered top-k, no global sort
    (`operators/sampling.py:weighted_sample`)."""
    from duckdb_graphar_spark.operators.sampling import weighted_sample

    return weighted_sample(_t(spark, sf, "documents"), 50)


@_q(
    "g22_ktruss",
    # ORACLE: the 2 peel rounds + final support pass unrolled — support
    # of edge (a,b) = common neighbors of a and b via the adjacency
    # wedge join; k=3 keeps edges with support >= 1.  During PEELING,
    # edges closing zero triangles are absent from a support table, so
    # the inner join IS the filter on both engines; the FINAL pass
    # left-joins support back so survivors at 0 still appear (the Spark
    # side enumerates triangles degree-ordered, but the support VALUES
    # are orientation-independent, so the adjacency formulation here is
    # the same function).
    f"""
    WITH raw AS ({_E_SQL}),
    e0 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
           FROM raw WHERE src <> dst),
    adj0 AS (SELECT a AS u, b AS n FROM e0 UNION ALL SELECT b, a FROM e0),
    s0 AS (SELECT e.a, e.b, COUNT(*) AS sup FROM e0 e
           JOIN adj0 x ON x.u = e.a
           JOIN adj0 y ON y.u = e.b AND y.n = x.n
           GROUP BY e.a, e.b),
    e1 AS (SELECT a, b FROM s0 WHERE sup >= 1),
    adj1 AS (SELECT a AS u, b AS n FROM e1 UNION ALL SELECT b, a FROM e1),
    s1 AS (SELECT e.a, e.b, COUNT(*) AS sup FROM e1 e
           JOIN adj1 x ON x.u = e.a
           JOIN adj1 y ON y.u = e.b AND y.n = x.n
           GROUP BY e.a, e.b),
    e2 AS (SELECT a, b FROM s1 WHERE sup >= 1),
    adj2 AS (SELECT a AS u, b AS n FROM e2 UNION ALL SELECT b, a FROM e2),
    s2 AS (SELECT e.a, e.b, COUNT(*) AS sup FROM e2 e
           JOIN adj2 x ON x.u = e.a
           JOIN adj2 y ON y.u = e.b AND y.n = x.n
           GROUP BY e.a, e.b)
    SELECT e2.a, e2.b, CAST(COALESCE(s2.sup, 0) AS BIGINT) AS support
    FROM e2 LEFT JOIN s2 ON e2.a = s2.a AND e2.b = s2.b
    """,
)
def g22(spark, sf):
    """Fixed-iteration k-truss peeling (k=3, 2 rounds) over the
    undirected order graph — the EDGE-granularity sibling of g14's
    vertex k-core: per round one DEGREE-ORDERED oriented triangle
    enumeration (compact-forward, Σ|N⁺|² ≤ O(E^1.5) — hub-robust on
    power-law graphs without an approximation cap) + one map-combinable
    support count, edge relation shrinking monotonically
    (`operators/graph.py:ktruss`)."""
    from duckdb_graphar_spark.operators.graph import ktruss

    return ktruss(_edges(spark, sf), 3, n_iters=2, src_col="src", dst_col="dst")


@_q(
    "g23_pseudo_diameter",
    # ORACLE: the double sweep as two bounded recursive CTEs over the
    # undirected edge set — per-vertex min depth, peripheral pick =
    # (max dist, min id), second walk's max depth is the estimate.
    f"""
    WITH RECURSIVE raw AS ({_E_SQL}),
    ue AS (SELECT src AS a, dst AS b FROM raw WHERE src <> dst
           UNION SELECT dst, src FROM raw WHERE src <> dst),
    w1(v, d) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION
      SELECT ue.b, w1.d + 1 FROM w1 JOIN ue ON ue.a = w1.v WHERE w1.d < 6
    ),
    d1 AS (SELECT v, MIN(d) AS dist FROM w1 GROUP BY v),
    per AS (SELECT v, dist FROM d1 ORDER BY dist DESC, v LIMIT 1),
    w2(v, d) AS (
      SELECT (SELECT v FROM per), 0
      UNION
      SELECT ue.b, w2.d + 1 FROM w2 JOIN ue ON ue.a = w2.v WHERE w2.d < 6
    ),
    d2 AS (SELECT v, MIN(d) AS dist FROM w2 GROUP BY v)
    SELECT CAST(0 AS BIGINT) AS start,
           (SELECT v FROM per) AS peripheral,
           CAST((SELECT dist FROM per) AS INTEGER) AS first_ecc,
           CAST((SELECT MAX(dist) FROM d2) AS INTEGER) AS pseudo_diameter
    """,
)
def g23(spark, sf):
    """Double-BFS pseudo-diameter (the standard diameter lower-bound
    estimate graph tools seed with): BFS from vertex 0 over the
    UNDIRECTED order graph, hop to the farthest vertex (ties to lowest
    id), second BFS's eccentricity is the estimate — two
    level-synchronous sweeps + one bounded 1-row collect between them
    (`operators/graph.py:pseudo_diameter`, `bfs_distances`)."""
    from duckdb_graphar_spark.operators.graph import pseudo_diameter

    return pseudo_diameter(_edges(spark, sf), 0, src_col="src", dst_col="dst")


@_q(
    "g24_scc",
    # ORACLE: ground truth by definition — the full transitive closure
    # (recursive CTE, feasible at fixture scale), mutual = reach both
    # ways, label(v) = min({v} ∪ {m : v↔m}).  The Spark side never
    # materializes a closure; matching it vertex-for-vertex proves the
    # FW-BW peeling exact.
    f"""
    WITH RECURSIVE raw AS ({_E_SQL}),
    e AS (SELECT DISTINCT src AS u, dst AS w FROM raw WHERE src <> dst),
    reach(u, w) AS (
      SELECT u, w FROM e
      UNION
      SELECT r.u, e.w FROM reach r JOIN e ON e.u = r.w
    ),
    mutual AS (
      SELECT r1.u AS v, r1.w AS m
      FROM reach r1 JOIN reach r2 ON r1.u = r2.w AND r1.w = r2.u
    ),
    verts AS (
      -- explicit outer DISTINCT: inside WITH RECURSIVE, DuckDB does not
      -- deduplicate this chained UNION (150 distinct arrived as 157)
      SELECT DISTINCT v FROM (
        SELECT u AS v FROM e
        UNION ALL SELECT w FROM e
        UNION ALL SELECT src FROM raw WHERE src = dst
      )
    )
    SELECT verts.v,
           CAST(LEAST(verts.v, COALESCE(mm.mn, verts.v)) AS BIGINT) AS label
    FROM verts LEFT JOIN (SELECT v, MIN(m) AS mn FROM mutual GROUP BY v) mm
      ON verts.v = mm.v
    """,
)
def g24(spark, sf):
    """Strongly connected components of the DIRECTED order graph —
    the directed sibling of g11's union-find CC and the classic graph-
    engine primitive the undirected operators can't express: FW-BW
    coloring (per peel round, forward + backward min-label fixpoints;
    F(v)=B(v)=r ⟺ v mutually reaches r, so the matches form exactly
    SCC(r); peel and repeat).  EXACT — raises rather than returning a
    partial partition.  No closure materialization anywhere: every step
    is (v, label) joins + min-aggregates, O(|E|) shuffle per pass
    (`operators/graph.py:scc`)."""
    from duckdb_graphar_spark.operators.graph import scc

    return scc(_edges(spark, sf), src_col="src", dst_col="dst")


@_q(
    "g25_condensation_levels",
    # ORACLE: g24's ground-truth closure gives the SCC labels; the
    # condensation's longest-path levels come from a second recursive
    # CTE seeded at 0 for every node with MAX over path lengths — the
    # same recurrence the Spark fixpoint relaxes, on an acyclic-by-
    # construction graph.
    f"""
    WITH RECURSIVE raw AS ({_E_SQL}),
    bp AS (SELECT GREATEST(100, COUNT(*) // 5) AS b FROM customer),
    star AS (
      SELECT (c_custkey // (SELECT b FROM bp)) * (SELECT b FROM bp) AS u,
             CAST(c_custkey AS BIGINT) AS w
      FROM customer WHERE c_custkey <> (c_custkey // (SELECT b FROM bp)) * (SELECT b FROM bp)
      UNION ALL
      SELECT CAST(c_custkey AS BIGINT),
             (c_custkey // (SELECT b FROM bp)) * (SELECT b FROM bp)
      FROM customer WHERE c_custkey <> (c_custkey // (SELECT b FROM bp)) * (SELECT b FROM bp)
    ),
    inter AS (SELECT src AS u, dst AS w FROM raw
              WHERE src <> dst
                AND dst // (SELECT b FROM bp) = src // (SELECT b FROM bp) + 1),
    e AS (SELECT DISTINCT u, w FROM (SELECT * FROM star UNION ALL SELECT * FROM inter)),
    reach(u, w) AS (
      SELECT u, w FROM e
      UNION
      SELECT r.u, e.w FROM reach r JOIN e ON e.u = r.w
    ),
    mutual AS (
      SELECT r1.u AS v, r1.w AS m
      FROM reach r1 JOIN reach r2 ON r1.u = r2.w AND r1.w = r2.u
    ),
    verts AS (
      SELECT DISTINCT v FROM (
        SELECT u AS v FROM e
        UNION ALL SELECT w FROM e
      )
    ),
    lab AS (
      SELECT verts.v,
             CAST(LEAST(verts.v, COALESCE(mm.mn, verts.v)) AS BIGINT) AS label
      FROM verts LEFT JOIN (SELECT v, MIN(m) AS mn FROM mutual GROUP BY v) mm
        ON verts.v = mm.v
    ),
    ce AS (
      SELECT DISTINCT la.label AS cs, lb.label AS cd
      FROM e JOIN lab la ON e.u = la.v JOIN lab lb ON e.w = lb.v
      WHERE la.label <> lb.label
    ),
    nodes AS (SELECT DISTINCT label AS c FROM lab),
    p(c, l) AS (
      SELECT c, 0 FROM nodes
      UNION
      SELECT ce.cd, p.l + 1 FROM p JOIN ce ON ce.cs = p.c
    ),
    sz AS (SELECT label AS c, COUNT(*) AS n FROM lab GROUP BY label)
    SELECT lv.c AS component, CAST(lv.ml AS BIGINT) AS level,
           CAST(sz.n AS BIGINT) AS n_vertices
    FROM (SELECT c, MAX(l) AS ml FROM p GROUP BY c) lv
    JOIN sz ON sz.c = lv.c
    """,
)
def g25(spark, sf):
    """Topological layering of the SCC condensation (the dependency-
    depth primitive: contract every cycle, then level(c) = longest
    path from a source — what build systems and DAG schedulers compute
    before dispatch): composes g24's exact FW-BW peeling with a
    depth-bounded longest-path relaxation over (component, level)
    pairs; cycles are impossible by construction, so the fixpoint is
    exact-or-raise (`operators/graph.py:condensation_levels`).

    The raw order graph is one giant SCC (a 1-row condensation, a
    vacuous check), so the entry builds a LAYERED graph the fixture
    determines exactly: vertices band into max(100, |customer|/5)-wide
    groups, each band made one SCC by a bidirectional hub-and-spoke
    star (diameter 2 — min-label fixpoints propagate one hop per pass,
    so SCC diameter, not size, is the inner budget), bridged FORWARD
    by the order edges that cross into the next band — a ~5-deep SCC
    chain at every SF (the F=B peel assigns one condensation level per
    round, so chain depth is the round budget)."""
    from duckdb_graphar_spark.operators.graph import condensation_levels

    ncust = _NCUST_CACHE.get(sf) or _t(spark, sf, "customer").count()
    band = max(100, ncust // 5)
    cust = _t(spark, sf, "customer")
    spokes = cust.filter(F.expr(f"c_custkey <> (c_custkey DIV {band}) * {band}"))
    star = spokes.selectExpr(
        f"CAST((c_custkey DIV {band}) * {band} AS BIGINT) AS src",
        "CAST(c_custkey AS BIGINT) AS dst",
    ).unionByName(
        spokes.selectExpr(
            "CAST(c_custkey AS BIGINT) AS src",
            f"CAST((c_custkey DIV {band}) * {band} AS BIGINT) AS dst",
        )
    )
    inter = _edges(spark, sf).filter(
        F.expr(f"dst DIV {band} = src DIV {band} + 1")
    )
    return condensation_levels(
        star.unionByName(inter), max_rounds=12, src_col="src", dst_col="dst"
    )


@_q(
    "g29_hyperball",
    # ORACLE: the exact 2-hop out-ball sizes (self ∪ successors ∪
    # successors²), UNION-deduped; within_tolerance must be TRUE for
    # every vertex — the HLL estimate is deterministic (same sketches
    # every run), so the 8% band is a stable cross-engine pin of
    # estimator QUALITY, not a flaky statistical test.
    f"""
    WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({_E_SQL})
                            WHERE src != dst),
    verts AS (SELECT DISTINCT v FROM (
                SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
    ball AS (
      SELECT v, v AS u FROM verts
      UNION SELECT src AS v, dst AS u FROM e
      UNION SELECT h.src AS v, e.dst AS u
            FROM e h JOIN e ON e.src = h.dst
    )
    SELECT v, CAST(COUNT(*) AS BIGINT) AS ball_exact,
           TRUE AS within_tolerance
    FROM ball GROUP BY v
    """,
)
def g29(spark, sf):
    """HyperBall (Boldi-Rosa-Vigna): per-vertex 2-hop out-ball sizes
    via mergeable HLL sketch propagation — sketchᵢ(v) = sketchᵢ₋₁(v) ∪
    neighbors' sketches, ONE edge join + one map-combinable
    hll_union_agg per round, O(kB) state per vertex — the web-scale
    neighborhood-function/effective-diameter primitive where exact
    per-vertex reachability is unaffordable.  The entry computes the
    exact balls too (fixture-affordable) so the driver checks
    ESTIMATOR QUALITY per vertex, q63-style
    (`operators/graph.py:neighborhood_function`)."""
    from duckdb_graphar_spark.operators.graph import neighborhood_function

    return neighborhood_function(
        _edges(spark, sf), k=2, src_col="src", dst_col="dst"
    )


@_q(
    "g26_seed_set_closeness",
    # ORACLE: one bounded recursive CTE does all 8 sources at once —
    # the state is (source, vertex, depth) with UNION dedup, min-dist
    # per pair, then the same integer aggregate.  All-integer outputs.
    f"""
    WITH RECURSIVE e AS ({_E_SQL}),
    walk(s, v, d) AS (
      SELECT CAST(s AS BIGINT) AS s, CAST(s AS BIGINT) AS v, 0 AS d
      FROM (SELECT UNNEST(generate_series(0, 7)) AS s)
      UNION
      SELECT walk.s, e.dst, walk.d + 1
      FROM walk JOIN e ON e.src = walk.v WHERE walk.d < 4
    ),
    m AS (SELECT s, v, MIN(d) AS d FROM walk GROUP BY 1, 2)
    SELECT v, CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(d) AS BIGINT) AS total_dist
    FROM m GROUP BY v
    """,
)
def g26(spark, sf):
    """Seed-set closeness from ONE multi-source BFS sweep — the
    landmark-distance primitive (sampled closeness centrality,
    landmark labeling, distance-to-known-spam features): the frontier
    is keyed (source, vertex) so all 8 seeds share each level's single
    edge-relation join, instead of 8 independent sweeps paying 8 edge
    scans per level.  Per-vertex outputs are integer (reach count,
    distance sum) — no floats, exact SQL replay
    (`operators/graph.py:multi_source_bfs,seed_set_closeness`)."""
    from duckdb_graphar_spark.operators.graph import seed_set_closeness

    return seed_set_closeness(
        _edges(spark, sf),
        list(range(8)),
        src_col="src",
        dst_col="dst",
        max_depth=4,
    )


@_q(
    "g27_luby_mis",
    # ORACLE: the full 3-round peel unrolled — priorities are the SAME
    # md5‖zero-padded-id strings (provably unique, so strict '<' never
    # ties), each round is a 4-CTE stage (undecided-neighbor MIN,
    # joiners, removed neighbors restricted to the still-undecided
    # set, survivors).  MATERIALIZED + ANTI/SEMI JOIN keep DuckDB from
    # re-inlining each round's CTE under every reference (the NOT IN
    # formulation re-executed the whole peel per membership test —
    # >100s; this runs in 0.1s).
    f"""
    WITH e AS MATERIALIZED ({_E_SQL}),
    ed AS (SELECT src, dst FROM e WHERE src != dst),
    adj AS MATERIALIZED (SELECT DISTINCT a, b FROM (
             SELECT src AS a, dst AS b FROM ed
             UNION ALL SELECT dst AS a, src AS b FROM ed)),
    u0 AS MATERIALIZED (SELECT v, md5('mis0' || chr(31) || CAST(v AS VARCHAR))
                    || lpad(CAST(v AS VARCHAR), 20, '0') AS p
           FROM (SELECT DISTINCT a AS v FROM adj)),
    n1 AS (SELECT adj.a AS v, MIN(ub.p) AS mn FROM adj
           JOIN u0 ua ON ua.v = adj.a JOIN u0 ub ON ub.v = adj.b GROUP BY 1),
    m1 AS MATERIALIZED (SELECT u0.v FROM u0 LEFT JOIN n1 ON n1.v = u0.v
           WHERE n1.mn IS NULL OR u0.p < n1.mn),
    r1 AS MATERIALIZED (SELECT DISTINCT adj.b AS v FROM adj
           JOIN m1 ON m1.v = adj.a
           ANTI JOIN m1 mm ON mm.v = adj.b),
    u1 AS MATERIALIZED (SELECT u0.* FROM u0 ANTI JOIN m1 ON m1.v = u0.v
           ANTI JOIN r1 ON r1.v = u0.v),
    n2 AS (SELECT adj.a AS v, MIN(ub.p) AS mn FROM adj
           JOIN u1 ua ON ua.v = adj.a JOIN u1 ub ON ub.v = adj.b GROUP BY 1),
    m2 AS MATERIALIZED (SELECT u1.v FROM u1 LEFT JOIN n2 ON n2.v = u1.v
           WHERE n2.mn IS NULL OR u1.p < n2.mn),
    r2 AS MATERIALIZED (SELECT DISTINCT adj.b AS v FROM adj
           JOIN m2 ON m2.v = adj.a
           ANTI JOIN m2 mm ON mm.v = adj.b
           SEMI JOIN u1 ON u1.v = adj.b),
    u2 AS MATERIALIZED (SELECT u1.* FROM u1 ANTI JOIN m2 ON m2.v = u1.v
           ANTI JOIN r2 ON r2.v = u1.v),
    n3 AS (SELECT adj.a AS v, MIN(ub.p) AS mn FROM adj
           JOIN u2 ua ON ua.v = adj.a JOIN u2 ub ON ub.v = adj.b GROUP BY 1),
    m3 AS MATERIALIZED (SELECT u2.v FROM u2 LEFT JOIN n3 ON n3.v = u2.v
           WHERE n3.mn IS NULL OR u2.p < n3.mn),
    r3 AS MATERIALIZED (SELECT DISTINCT adj.b AS v FROM adj
           JOIN m3 ON m3.v = adj.a
           ANTI JOIN m3 mm ON mm.v = adj.b
           SEMI JOIN u2 ON u2.v = adj.b),
    u3 AS (SELECT u2.* FROM u2 ANTI JOIN m3 ON m3.v = u2.v
           ANTI JOIN r3 ON r3.v = u2.v)
    SELECT v, 'in' AS status FROM m1
    UNION ALL SELECT v, 'in' FROM m2
    UNION ALL SELECT v, 'in' FROM m3
    UNION ALL SELECT v, 'out' FROM r1
    UNION ALL SELECT v, 'out' FROM r2
    UNION ALL SELECT v, 'out' FROM r3
    UNION ALL SELECT v, 'undecided' FROM u3
    """,
)
def g27(spark, sf):
    """Luby's maximal independent set over the undirected order graph,
    3 fixed rounds — THE distributed symmetry-breaking primitive
    (coloring, matching, scheduling all reduce to it), made
    deterministic AND SQL-replayable by content-addressed priorities
    (md5 ‖ zero-padded id: provably unique, adversary-free like the
    classical random draw).  Per round: one edge ⋈ undecided ⋈
    undecided join, a map-combinable per-vertex MIN, two anti-joins —
    no collects, no driver state
    (`operators/graph.py:luby_mis`)."""
    from duckdb_graphar_spark.operators.graph import luby_mis

    return luby_mis(_edges(spark, sf), rounds=3, src_col="src", dst_col="dst")


def _coloring_oracle(colors: int, rounds: int) -> str:
    """Unrolled SQL for greedy_coloring: per color class, the residual
    adjacency + a FULL g27-style Luby peel (fresh 'color{c}' seed) +
    the isolated-in-residual vertices, then the residual shrinks.  The
    MATERIALIZED/ANTI/SEMI discipline is g27's (NOT-IN re-executed the
    peel per membership test)."""
    ctes = [
        f"e AS MATERIALIZED ({_E_SQL})",
        "ed AS (SELECT src, dst FROM e WHERE src != dst)",
        "adj AS MATERIALIZED (SELECT DISTINCT a, b FROM ("
        "SELECT src AS a, dst AS b FROM ed "
        "UNION ALL SELECT dst AS a, src AS b FROM ed))",
        "rem0 AS MATERIALIZED (SELECT DISTINCT a AS v FROM adj)",
    ]
    for c in range(colors):
        ctes.append(
            f"adj{c} AS MATERIALIZED (SELECT adj.a, adj.b FROM adj "
            f"SEMI JOIN rem{c} ra ON ra.v = adj.a "
            f"SEMI JOIN rem{c} rb ON rb.v = adj.b)"
        )
        ctes.append(
            f"u{c}_0 AS MATERIALIZED (SELECT v, "
            f"md5('color{c}' || chr(31) || CAST(v AS VARCHAR)) "
            f"|| lpad(CAST(v AS VARCHAR), 20, '0') AS p "
            f"FROM (SELECT DISTINCT a AS v FROM adj{c}))"
        )
        for r in range(1, rounds + 1):
            ctes.append(
                f"n{c}_{r} AS (SELECT ac.a AS v, MIN(ub.p) AS mn "
                f"FROM adj{c} ac JOIN u{c}_{r-1} ua ON ua.v = ac.a "
                f"JOIN u{c}_{r-1} ub ON ub.v = ac.b GROUP BY 1)"
            )
            ctes.append(
                f"m{c}_{r} AS MATERIALIZED (SELECT u.v FROM u{c}_{r-1} u "
                f"LEFT JOIN n{c}_{r} n ON n.v = u.v "
                f"WHERE n.mn IS NULL OR u.p < n.mn)"
            )
            ctes.append(
                f"r{c}_{r} AS MATERIALIZED (SELECT DISTINCT ac.b AS v "
                f"FROM adj{c} ac JOIN m{c}_{r} m ON m.v = ac.a "
                f"ANTI JOIN m{c}_{r} mm ON mm.v = ac.b "
                f"SEMI JOIN u{c}_{r-1} uu ON uu.v = ac.b)"
            )
            ctes.append(
                f"u{c}_{r} AS MATERIALIZED (SELECT u.* FROM u{c}_{r-1} u "
                f"ANTI JOIN m{c}_{r} m ON m.v = u.v "
                f"ANTI JOIN r{c}_{r} rr ON rr.v = u.v)"
            )
        ctes.append(
            f"iso{c} AS MATERIALIZED (SELECT r.v FROM rem{c} r ANTI JOIN "
            f"(SELECT DISTINCT a AS v FROM adj{c}) ee ON ee.v = r.v)"
        )
        ins = " UNION ALL ".join(
            [f"SELECT v FROM m{c}_{r}" for r in range(1, rounds + 1)]
            + [f"SELECT v FROM iso{c}"]
        )
        ctes.append(f"col{c} AS MATERIALIZED ({ins})")
        ctes.append(
            f"rem{c+1} AS MATERIALIZED (SELECT r.v FROM rem{c} r "
            f"ANTI JOIN col{c} cc ON cc.v = r.v)"
        )
    finals = " UNION ALL ".join(
        [f"SELECT v, {c} AS color FROM col{c}" for c in range(colors)]
        + [f"SELECT v, -1 AS color FROM rem{colors}"]
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


def _msf_oracle(
    rounds: int,
    *,
    weighted: bool = False,
    edges_sql: str | None = None,
    seed: str = "msf0",
    finals_sql: str | None = None,
    pre_ctes: list[str] | None = None,
    post_ctes: list[str] | None = None,
) -> str:
    """Unrolled SQL for minimum_spanning_forest: per round, the
    per-component min-outgoing-edge pick (unique weights ⇒ the MIN
    join is the argmin) and a recursive-CTE closure over the
    forest-so-far re-labels components.  g27's MATERIALIZED
    discipline; self-loops keep isolated vertices labeled.  With
    ``weighted``, parallel pairs first collapse to their MIN integer
    weight and the sort key gains the zero-padded-decimal weight
    prefix — the exact string the Spark side builds."""
    tie = (
        f"md5('{seed}' || chr(31) || CAST(a AS VARCHAR) || chr(31) || CAST(b AS VARCHAR)) "
        "|| lpad(CAST(a AS VARCHAR), 20, '0') "
        "|| lpad(CAST(b AS VARCHAR), 20, '0')"
    )
    if weighted:
        ctes = list(pre_ctes or []) + [
            "ed AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b, "
            f"MIN(wv) AS wv FROM ({edges_sql or _EW_SQL}) WHERE src != dst GROUP BY 1, 2)",
            "e AS MATERIALIZED (SELECT a, b, wv, "
            f"lpad(CAST(wv AS VARCHAR), 20, '0') || {tie} AS w FROM ed)",
        ]
        wv_sel, wv_t = ", wv", ", t.wv"
    else:
        ctes = [
            "ed AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
            f"FROM ({_E_SQL}) WHERE src != dst)",
            f"e AS MATERIALIZED (SELECT a, b, {tie} AS w FROM ed)",
        ]
        wv_sel, wv_t = "", ""
    ctes += [
        "verts AS MATERIALIZED (SELECT DISTINCT v FROM "
        "(SELECT a AS v FROM e UNION ALL SELECT b FROM e))",
        "lbl0 AS MATERIALIZED (SELECT v, v AS label FROM verts)",
    ]
    for r in range(rounds):
        ctes.append(
            f"cand{r} AS (SELECT e.a, e.b{wv_sel}, e.w, la.label AS la, lb.label AS lb "
            f"FROM e JOIN lbl{r} la ON la.v = e.a "
            f"JOIN lbl{r} lb ON lb.v = e.b WHERE la.label != lb.label)"
        )
        ctes.append(
            f"two{r} AS (SELECT la AS comp, w, a, b{wv_sel} FROM cand{r} "
            f"UNION ALL SELECT lb, w, a, b{wv_sel} FROM cand{r})"
        )
        ctes.append(
            f"mw{r} AS (SELECT comp, MIN(w) AS mw FROM two{r} GROUP BY comp)"
        )
        ctes.append(
            f"pick{r} AS MATERIALIZED (SELECT DISTINCT t.a, t.b{wv_t}, "
            f"{r} AS round_added FROM two{r} t "
            f"JOIN mw{r} m ON m.comp = t.comp AND t.w = m.mw)"
        )
        und = " UNION ALL ".join(
            [f"SELECT a, b FROM pick{i}" for i in range(r + 1)]
        )
        ctes.append(
            f"reach{r}(v, t) AS ("
            "SELECT v, v FROM verts "
            "UNION "
            f"SELECT u.b, reach{r}.t FROM reach{r} JOIN "
            f"(SELECT a, b FROM ({und}) "
            f"UNION ALL SELECT b, a FROM ({und})) u ON u.a = reach{r}.v)"
        )
        ctes.append(
            f"lbl{r+1} AS MATERIALIZED "
            f"(SELECT v, MIN(t) AS label FROM reach{r} GROUP BY v)"
        )
    ctes += list(post_ctes or [])
    if finals_sql is not None:
        # caller-provided tail (e.g. a threshold cut + closure over the
        # forest); with post_ctes it can reference pick0..pick{rounds-1}
        # and verts
        finals = finals_sql
    elif weighted:
        finals = " UNION ALL ".join(
            f"SELECT a, b, CAST(wv AS BIGINT) AS weight, round_added FROM pick{r}"
            for r in range(rounds)
        )
    else:
        finals = " UNION ALL ".join(
            f"SELECT a, b, round_added FROM pick{r}" for r in range(rounds)
        )
    return "WITH RECURSIVE " + ",\n".join(ctes) + "\n" + finals


@_q(
    "g31_minimum_spanning_forest",
    # ORACLE: the full Borůvka peel unrolled by _msf_oracle — unique
    # content-addressed weights make every per-component argmin a MIN
    # join, and each round's component labels come from a recursive
    # closure over the forest-so-far (≤ V−1 edges, not the graph).
    _msf_oracle(rounds=3),
)
def g31(spark, sf):
    """Borůvka MINIMUM SPANNING FOREST over the undirected order graph
    (3 rounds — each round at least halves the component count):
    per-component minimum outgoing edge by provably-unique
    content-addressed weights (md5 ‖ padded ids — deterministic,
    cycle-free by the classic unique-weights argument, SQL-replayable),
    picked edges merge components via CC over the forest-so-far.
    MST/MSF is the single-linkage-clustering / network-design
    primitive (`operators/graph.py:minimum_spanning_forest`)."""
    from duckdb_graphar_spark.operators.graph import minimum_spanning_forest

    return minimum_spanning_forest(
        _edges(spark, sf), rounds=3, src_col="src", dst_col="dst"
    )


@_q(
    "g32_weighted_spanning_forest",
    # ORACLE: the same Borůvka unroll as g31, over REAL integer weights
    # — parallel (a, b) pairs collapse to their MIN weight first, the
    # sort key is lpad(weight) ‖ md5 ‖ padded ids (equal weights
    # tie-break deterministically), and each round's argmin is the MIN
    # join over that composite string.
    _msf_oracle(rounds=3, weighted=True),
)
def g32(spark, sf):
    """Borůvka MSF with a REAL WEIGHT COLUMN (g31's production mode —
    the single-linkage-clustering primitive wants actual pair
    distances, quantized to integer units upstream): weight =
    (7·orderkey + custkey) mod 1000, heavy ties by construction, so
    the deterministic md5‖id tie-break is load-bearing, not
    decorative; parallel pairs keep their cheapest edge (map-combined
    MIN, the multigraph contract); output carries the picked weight
    for downstream cut thresholds
    (`operators/graph.py:minimum_spanning_forest(weight_col=...)`)."""
    from duckdb_graphar_spark.operators.graph import minimum_spanning_forest

    ncust = _NCUST_CACHE.get(sf) or _t(spark, sf, "customer").count()
    _NCUST_CACHE[sf] = ncust
    we = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % ncust).alias("dst"),
        ((F.col("o_orderkey") * 7 + F.col("o_custkey")) % 1000).alias("wv"),
    )
    return minimum_spanning_forest(
        we, rounds=3, src_col="src", dst_col="dst", weight_col="wv"
    )


@_q(
    "g33_adamic_adar",
    # ORACLE: g20's wedge enumeration with the center's AA weight —
    # ROUND(1/LN(deg), 9) cast to DECIMAL(38,12) — stamped on each
    # neighbor row; the per-pair sum is exact decimal (order-
    # independent), the DECIMAL is the sort key (u, w ties), and only
    # the published score is a rounded double.  Degree-1 centers are
    # filtered on both sides (they close no wedge).
    f"""
    WITH e0 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM ({_E_SQL}) WHERE src <> dst),
    nb AS (SELECT a AS c, b AS n FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT n AS v, COUNT(*) AS d FROM nb GROUP BY 1),
    nbw AS (SELECT nb.c, nb.n,
                   CAST(ROUND(CAST(1.0 AS DOUBLE) / LN(CAST(deg.d AS DOUBLE)), 9)
                        AS DECIMAL(38,12)) AS wc
            FROM nb JOIN deg ON deg.v = nb.c WHERE deg.d >= 2),
    aa AS (SELECT l.n AS u, r.n AS w, COUNT(*) AS n_common, SUM(l.wc) AS s
           FROM nbw l JOIN nbw r ON l.c = r.c AND l.n < r.n GROUP BY 1, 2),
    ne AS (SELECT aa.u, aa.w, aa.n_common, aa.s FROM aa
           ANTI JOIN e0 ON aa.u = e0.a AND aa.w = e0.b)
    SELECT u, w, CAST(n_common AS BIGINT) AS n_common,
           ROUND(CAST(s AS DOUBLE), 6) AS adamic_adar
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY s DESC, u, w) AS rk FROM ne)
    WHERE rk <= 50
    """,
)
def g33(spark, sf):
    """Adamic–Adar link prediction: top-50 non-adjacent pairs by
    Σ 1/ln(deg(center)) over shared neighbors — the hub-down-weighted
    refinement of g20's raw common-neighbor count (a shared celebrity
    is weak evidence, a shared 3-degree contact is strong).  Same
    capped wedge join; the weight is stamped per NEIGHBOR row (2·|E|),
    never per wedge row (Σdeg²), and the pair aggregate stays
    map-combinable (`operators/graph.py:adamic_adar_candidates`)."""
    from duckdb_graphar_spark.operators.graph import adamic_adar_candidates

    return adamic_adar_candidates(
        _edges(spark, sf),
        k=50,
        max_center_degree=1000,
        src_col="src",
        dst_col="dst",
    )


@_q(
    "g34_katz_centrality",
    # ORACLE: the two iterations unrolled in PURE BIGINT — scores carried
    # as integer units of 2^-2 (u = katz·4), each halving an exact
    # integer division (u_k is divisible by 2^(2-k) by induction), one
    # dyadic-exact double division at the end.  No decimal, no float
    # discipline at all — the α=1/2 sibling of g09's DECIMAL pagerank.
    f"""
    WITH e AS (SELECT DISTINCT src, dst FROM ({_E_SQL})),
    v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
    s1 AS (SELECT e.dst AS id, SUM(CAST(4 AS BIGINT)) AS s
           FROM e GROUP BY 1),
    x1 AS (SELECT v.id, CAST(4 + COALESCE(s1.s, 0) // 2 AS BIGINT) AS u
           FROM v LEFT JOIN s1 USING (id)),
    s2 AS (SELECT e.dst AS id, SUM(x1.u) AS s
           FROM e JOIN x1 ON x1.id = e.src GROUP BY 1),
    x2 AS (SELECT v.id, CAST(4 + COALESCE(s2.s, 0) // 2 AS BIGINT) AS u
           FROM v LEFT JOIN s2 USING (id))
    SELECT id, CAST(u AS DOUBLE) / 4 AS katz FROM x2
    """,
)
def g34(spark, sf):
    """Katz centrality (α = 1/2, β = 1, two fixed iterations) — the
    attenuated path-count centrality between degree and the
    eigenvector limit.  INTEGER-exact: scores are carried as units of
    2^-2, every halving is an exact integer DIV (dyadic α is what buys
    this — a general α needs g09's DECIMAL discipline), and the single
    final division by 4 is dyadic-exact in a double.  Per iteration:
    one edge⋈score hash join + one map-combinable integer groupBy
    (`operators/graph.py:katz_centrality`)."""
    from duckdb_graphar_spark.operators.graph import katz_centrality

    return katz_centrality(_edges(spark, sf), n_iters=2, src_col="src", dst_col="dst")


@_q(
    "g30_greedy_coloring",
    # ORACLE: the full colors×rounds peel unrolled by _coloring_oracle
    # — class c is a g27 Luby MIS over the residual adjacency with a
    # fresh 'color{c}' seed, plus the isolated-in-residual vertices;
    # residual shrinks between classes; leftovers report -1.
    _coloring_oracle(colors=3, rounds=2),
)
def g30(spark, sf):
    """Distributed GRAPH COLORING by iterated Luby MIS (Luby's classic
    reduction): 3 color classes of 2 peel rounds each over the
    undirected order graph — adjacent vertices never share a color by
    construction (each class is independent in its residual), budget
    leftovers report −1 honestly.  Coloring is the chromatic-scheduling
    primitive (conflict-free parallel batches); per class the cost is
    the g27 shape plus two semi-joins to restrict the residual edge
    set (`operators/graph.py:greedy_coloring`)."""
    from duckdb_graphar_spark.operators.graph import greedy_coloring

    return greedy_coloring(
        _edges(spark, sf), colors=3, rounds=2, src_col="src", dst_col="dst"
    )


@_q(
    "g28_random_walks",
    # ORACLE: the four steps unrolled — each step ranks the current
    # vertex's out-neighbors by the SAME md5(seed‖step‖v‖u) integers
    # (ties by neighbor id) and QUALIFY picks the argmin; MATERIALIZED
    # edge CTE (the g27 lesson).  Walks, not distributions: the whole
    # trajectory replays vertex-for-vertex.
    f"""
    WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({_E_SQL})
                            WHERE src != dst),
    w0 AS (SELECT CAST(s AS BIGINT) AS walk_id, CAST(s AS BIGINT) AS v
           FROM (SELECT UNNEST(generate_series(0, 9)) AS s)),
    w1 AS (SELECT w0.walk_id, e.dst AS v FROM w0 JOIN e ON e.src = w0.v
           QUALIFY ROW_NUMBER() OVER (PARTITION BY w0.walk_id ORDER BY
             CAST(concat('0x', substr(md5('walk0' || chr(31) || '1' || chr(31)
               || CAST(w0.v AS VARCHAR) || chr(31) || CAST(e.dst AS VARCHAR)),
               1, 13)) AS UBIGINT), e.dst) = 1),
    w2 AS (SELECT w1.walk_id, e.dst AS v FROM w1 JOIN e ON e.src = w1.v
           QUALIFY ROW_NUMBER() OVER (PARTITION BY w1.walk_id ORDER BY
             CAST(concat('0x', substr(md5('walk0' || chr(31) || '2' || chr(31)
               || CAST(w1.v AS VARCHAR) || chr(31) || CAST(e.dst AS VARCHAR)),
               1, 13)) AS UBIGINT), e.dst) = 1),
    w3 AS (SELECT w2.walk_id, e.dst AS v FROM w2 JOIN e ON e.src = w2.v
           QUALIFY ROW_NUMBER() OVER (PARTITION BY w2.walk_id ORDER BY
             CAST(concat('0x', substr(md5('walk0' || chr(31) || '3' || chr(31)
               || CAST(w2.v AS VARCHAR) || chr(31) || CAST(e.dst AS VARCHAR)),
               1, 13)) AS UBIGINT), e.dst) = 1),
    w4 AS (SELECT w3.walk_id, e.dst AS v FROM w3 JOIN e ON e.src = w3.v
           QUALIFY ROW_NUMBER() OVER (PARTITION BY w3.walk_id ORDER BY
             CAST(concat('0x', substr(md5('walk0' || chr(31) || '4' || chr(31)
               || CAST(w3.v AS VARCHAR) || chr(31) || CAST(e.dst AS VARCHAR)),
               1, 13)) AS UBIGINT), e.dst) = 1)
    SELECT walk_id, 0 AS step, v FROM w0
    UNION ALL SELECT walk_id, 1, v FROM w1
    UNION ALL SELECT walk_id, 2, v FROM w2
    UNION ALL SELECT walk_id, 3, v FROM w3
    UNION ALL SELECT walk_id, 4, v FROM w4
    """,
)
def g28(spark, sf):
    """Deterministic random-WALK generation (the DeepWalk/node2vec
    corpus primitive): 10 walks of 4 steps, each step moving to the
    out-neighbor minimizing md5(seed‖step‖v‖u) — uniform-ish like a
    random draw, fresh per (step, vertex) so revisits re-choose, and
    content-addressed so the exact trajectories replay in SQL.  One
    shared edge join + map-combinable min_by per step, no collects
    (`operators/graph.py:random_walks`)."""
    from duckdb_graphar_spark.operators.graph import random_walks

    return random_walks(
        _edges(spark, sf), list(range(10)), steps=4, src_col="src", dst_col="dst"
    )


@_q(
    "t26_heavy_hitters",
    # ORACLE: exact token frequencies with the integer threshold
    # freq*k > n.  The operator's Misra-Gries candidate phase is a
    # superset guarantee + exact recount, so its output is EXACTLY this
    # set regardless of partitioning.
    """
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    t2 AS (SELECT token FROM tok WHERE token <> ''),
    tot AS (SELECT COUNT(*) AS n FROM t2)
    SELECT token, COUNT(*) AS freq
    FROM t2, tot GROUP BY token, tot.n HAVING COUNT(*) * 50 > n
    """,
)
def t26(spark, sf):
    """Exact heavy hitters (freq > n/k, k=50) without a corpus-wide
    token shuffle: per-partition Misra-Gries candidates in one
    mapInPandas pass, broadcast-semi-join exact recount, integer
    threshold (`operators/sketch.py:heavy_hitters`)."""
    from duckdb_graphar_spark.operators.sketch import heavy_hitters

    return heavy_hitters(_t(spark, sf, "documents"), k=50)


@_q(
    "t27_tfidf_cosine_pairs",
    # ORACLE: identical posting-list self-join arithmetic — ratio-idf
    # weights (one IEEE division of exact integers), decimal-exact dot
    # and norm sums, sqrt/divide/round-6; threshold on the UNROUNDED
    # cosine in both engines.  Terms are word TRIGRAMS and the
    # max_df_frac=0.5 stopword cap is ENGAGED in both engines (no
    # trigram reaches it on the fixture — max df is 25/5000 — so the
    # cap is exercised losslessly).
    """
    WITH tk AS (SELECT doc_id AS id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS w
                FROM documents),
    t2 AS (SELECT id,
                  unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          FOR i IN generate_series(1, len(w) - 2)]) AS tok
           FROM tk WHERE len(w) >= 3),
    tf AS (SELECT id, tok, COUNT(*) AS c FROM t2 GROUP BY id, tok),
    dl AS (SELECT id, SUM(c) AS len FROM tf GROUP BY id),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    w AS (SELECT tf.id, tf.tok,
                 CAST(tf.c * nd.n AS DOUBLE) / (dl.len * dfreq.df) AS w
          FROM tf JOIN dl USING (id) JOIN dfreq USING (tok) CROSS JOIN nd
          WHERE dfreq.df <= nd.n * 0.5),
    norms AS (SELECT id, SUM(CAST(w * w AS DECIMAL(38,18))) AS n2 FROM w GROUP BY id),
    dots AS (SELECT a.id AS id_a, b.id AS id_b, SUM(CAST(a.w * b.w AS DECIMAL(38,18))) AS dot
             FROM w a JOIN w b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2)
    SELECT id_a, id_b,
           ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
    FROM dots JOIN norms na ON na.id = dots.id_a JOIN norms nb ON nb.id = dots.id_b
    WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.95
    """,
)
def t27(spark, sf):
    """Sparse TF-IDF cosine near-dup pairs via the posting-list
    self-join over word-TRIGRAM terms with the max_df_frac stopword cap
    ENGAGED at 0.5 — the representation move (s17→s20) that makes the
    posting join's Σdf² cost scale on this fixture: the 31-word
    vocabulary makes every WORD a stopword (Σdf² ≈ 4×10⁸ at sf0.1,
    formerly the one bench-skipped entry), while trigrams give vocab
    ≈27k / max df 25 / Σdf² ≈ 2.8×10⁶
    (`operators/text.py:tfidf_cosine_pairs`)."""
    from duckdb_graphar_spark.operators.text import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        _t(spark, sf, "documents"), threshold=0.95, max_df_frac=0.5, ngram=3
    )


@_q(
    "q58_funnel",
    # ORACLE: staged-min construction — t_{i+1} = first stage-(i+1)
    # event STRICTLY after t_i.  The operator's one-shuffle sorted fold
    # is provably equivalent (first-in-time-order == min-ts).
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
    SELECT u.user_id,
           CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stages_completed,
           COALESCE(t3, t2, t1) AS completed_at
    FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
           LEFT JOIN s3 USING (user_id)
    """,
)
def q58(spark, sf):
    """Ordered funnel conversion view→click→purchase: per user the
    stage reached + completing timestamp, via ONE groupBy(user) shuffle
    and a time-sorted HOF fold — the log is scanned once, not once per
    stage (`operators/events.py:funnel`)."""
    from duckdb_graphar_spark.operators.events import funnel

    return funnel(_t(spark, sf, "events"), ["view", "click", "purchase"])


@_q(
    "q59_scd2_intervals",
    # ORACLE: identical gaps-and-islands over (ts, event_id) ordering —
    # run boundaries by lag, island label by running boundary count,
    # half-open validity intervals by lead over the collapsed runs.
    """
    WITH o AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR event_type <> lag(event_type) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
          FROM o),
    c AS (SELECT user_id, run, MIN(event_type) AS state, MIN(ts) AS valid_from,
                 COUNT(*) AS n_events
          FROM r GROUP BY user_id, run)
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to,
           n_events
    FROM c
    """,
)
def q59(spark, sf):
    """SCD-type-2 state intervals from the event log (consecutive
    same-type runs per user → half-open [valid_from, valid_to) rows);
    gaps-and-islands with ONE user-hash exchange shared by both windows
    and the collapse groupBy (`operators/events.py:scd2_intervals`)."""
    from duckdb_graphar_spark.operators.events import scd2_intervals

    return scd2_intervals(_t(spark, sf, "events"))


@_q(
    "q76_pit_dimension_lookup",
    # ORACLE: the SCD2 dimension rebuilt with q59's gaps-and-islands
    # chain over the NON-click events, then DuckDB's native ASOF LEFT
    # JOIN — interval containment equals backward as-of on valid_from
    # because consecutive intervals partition each user's timeline.
    """
    WITH o AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR event_type <> lag(event_type) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM events WHERE event_type <> 'click'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
          FROM o),
    c AS (SELECT user_id, MIN(event_type) AS state, MIN(ts) AS valid_from
          FROM r GROUP BY user_id, run)
    SELECT e.event_id, e.user_id, c.state
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.valid_from
    """,
)
def q76(spark, sf):
    """Point-in-time DIMENSION lookup — the warehouse join q59 and q50
    compose into: build the SCD2 state dimension from the non-click
    events (gaps-and-islands), then resolve every click against the
    state prevailing AT ITS TIMESTAMP via a backward as-of join on
    valid_from (legal because consecutive intervals partition the
    user's timeline — no range join needed).  One user-hash shuffle
    for the dimension windows + one for the as-of carry-forward;
    clicks before a user's first state row stay NULL (how='left')."""
    from duckdb_graphar_spark.operators.asof import asof_join
    from duckdb_graphar_spark.operators.events import scd2_intervals

    ev = _t(spark, sf, "events")
    dim = scd2_intervals(ev.filter(F.col("event_type") != "click")).select(
        "user_id", "valid_from", "state"
    )
    fact = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        fact,
        dim,
        on="user_id",
        left_ts="ts",
        right_ts="valid_from",
        right_cols=["state"],
    ).select("event_id", "user_id", "state")


@_q(
    "q77_dynamic_partition_pruning",
    # ORACLE: the same filter+aggregate directly — the Spark side must
    # produce identical values through the partitioned-fact ⋈ filtered-
    # dim plan whose partition filter is INJECTED AT RUNTIME by DPP.
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(user_id) AS BIGINT) AS sum_users
    FROM events WHERE event_type IN ('view', 'purchase')
    GROUP BY event_type
    """,
)
def q77(spark, sf):
    """Dynamic partition pruning — the scale feature static pushdown
    can't give: the fact table is written PARTITIONED BY event_type,
    the dimension's filter is only known at runtime, and Spark injects
    a `dynamicpruning` subquery on the fact's partition column so only
    the matching partition DIRECTORIES are ever read (at 100 TB this
    is the difference between scanning 2 of 7 partitions and all of
    them).  The plan shape is pinned in tests/test_plans.py; the
    2-row result is collected before the staged fact is removed."""
    import shutil

    ev = _t(spark, sf, "events")
    out = tempfile.mkdtemp(prefix="q77_dpp_")
    try:
        ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
        fact = spark.read.parquet(out)
        dim = (
            ev.select("event_type")
            .distinct()
            .filter(F.col("event_type").isin("view", "purchase"))
        )
        rows = (
            fact.join(dim, "event_type")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("user_id").cast("long").alias("sum_users"),
            )
            .collect()
        )
        return spark.createDataFrame(
            rows, "event_type string, n_events long, sum_users long"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


_BM25_Q = ["scan", "merge", "vector"]

# BM25 CTE chain shared by t28 and the s11 hybrid oracle: raw RSJ ratio
# idf (one IEEE division of exact values, no log), tf saturation with
# identical parenthesization to the Spark expression, DECIMAL(38,18)
# per-doc accumulation, rank on the ROUNDED score.
_BM25_CTE = """
    WITH base AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents),
    dl AS (SELECT id, len(toks) AS dl FROM base),
    stats AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM dl),
    tf AS (
      SELECT id, tok, COUNT(*) AS tf
      FROM (SELECT id, unnest(toks) AS tok FROM base)
      WHERE tok IN ('scan', 'merge', 'vector')
      GROUP BY id, tok
    ),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    bscored AS (
      SELECT tf.id,
             SUM(CAST(((s.n - d.df + 0.5) / (d.df + 0.5))
                      * ((tf.tf * 2.2)
                         / (tf.tf + 1.2 * (1.0 - 0.75 + (0.75 * dl.dl)
                                           / (CAST(s.tot AS DOUBLE) / s.n))))
                      AS DECIMAL(38,18))) AS ssum,
             COUNT(*) AS n_terms
      FROM tf JOIN dl ON tf.id = dl.id
              JOIN dfreq d ON tf.tok = d.tok
              CROSS JOIN stats s
      GROUP BY tf.id
    ),
    branked AS (
      SELECT id, ROUND(CAST(ssum AS DOUBLE), 6) AS bm25, n_terms,
             ROW_NUMBER() OVER (ORDER BY ROUND(CAST(ssum AS DOUBLE), 6) DESC, id) AS rank
      FROM bscored
    )
"""


@_q(
    "t28_bm25_topk",
    _BM25_CTE
    + """
    SELECT id AS doc_id, bm25, n_terms, rank FROM branked
    WHERE rank <= 10
    """,
)
def t28(spark, sf):
    """BM25 lexical top-10 for a fixed 3-term query: ratio-idf (no
    log), per-doc DECIMAL(38,18) term-score accumulation, posting
    explode FILTERED to the query terms before the only corpus shuffle,
    doc length as a shuffle-free projection
    (`operators/text.py:bm25_topk`)."""
    from duckdb_graphar_spark.operators.text import bm25_topk

    return bm25_topk(_t(spark, sf, "documents"), _BM25_Q, k=10)


@_q(
    "t29_token_spectrum",
    """
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    freq AS (SELECT tok, COUNT(*) AS f FROM tok GROUP BY tok)
    SELECT f AS freq, COUNT(*) AS n_tokens, f * COUNT(*) AS mass
    FROM freq GROUP BY f
    """,
)
def t29(spark, sf):
    """Corpus Zipf spectrum (frequency-of-frequencies): two
    map-combinable groupBys, the only corpus shuffle carries one row
    per distinct token after partial aggregation
    (`operators/text.py:token_freq_spectrum`)."""
    from duckdb_graphar_spark.operators.text import token_freq_spectrum

    return token_freq_spectrum(_t(spark, sf, "documents"))


@_q(
    "s11_hybrid_rrf",
    # ORACLE: both source rankers replayed exactly — the BM25 chain
    # above (top-20) and the s01 brute-force cosine ranking for the
    # vec_id-0 query (top-20) — then RRF contributions 1/(60+rank) as
    # one IEEE division each, DECIMAL(38,18) fused sum, rank on the
    # rounded score.  doc ids and vec ids share the 0..n-1 key space,
    # so embeddings[i] is document i's embedding.
    _BM25_CTE
    + """
    , q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id = 0),
    vranked AS (
      SELECT neighbor_id, rank FROM (
        SELECT e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                       CAST(q.qv AS DOUBLE[])), 6) DESC,
                          e.vec_id) AS rank
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != q.query_id
      ) WHERE rank <= 20
    ),
    contrib AS (
      SELECT id AS doc_id, CAST(1.0 / (60.0 + rank) AS DECIMAL(38,18)) AS c
      FROM branked WHERE rank <= 20
      UNION ALL
      SELECT neighbor_id, CAST(1.0 / (60.0 + rank) AS DECIMAL(38,18)) AS c
      FROM vranked
    ),
    fused AS (
      SELECT doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS rrf_score,
             COUNT(*) AS n_sources
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, rrf_score, n_sources,
           ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def s11(spark, sf):
    """Hybrid retrieval: BM25 top-20 + brute-force cosine top-20 for
    the vec_id-0 query, fused by reciprocal-rank fusion (1/(60+rank),
    DECIMAL-summed) — the rank-based combiner that never mixes the two
    incomparable score scales (`operators/similarity.py:rrf_fuse`)."""
    from duckdb_graphar_spark.operators.similarity import brute_force_topk, rrf_fuse
    from duckdb_graphar_spark.operators.text import bm25_topk

    d = _t(spark, sf, "documents")
    e = _t(spark, sf, "embeddings")
    lex = bm25_topk(d, _BM25_Q, k=20).select("doc_id", "rank")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    vec = brute_force_topk(e, q, k=20).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, vec], k=10)


_QPROBS = [0.25, 0.5, 0.75, 0.9, 0.99]


@_q(
    "q60_exact_quantiles",
    # ORACLE: explicit row_number rank selection at floor((n−1)·p)+1 —
    # an INDEPENDENT construction (one sorted window vs our two-phase
    # distributed rank scan), with percentile_disc semantics spelled
    # out rather than DuckDB's quantile_disc, whose cume_dist
    # convention (ceil(n·p)) happens to agree on this fixture's (n, p)
    # combinations but diverges at unlucky n (seen in q70 at n=15).
    """
    WITH d AS (SELECT l_extendedprice AS x FROM lineitem WHERE l_extendedprice IS NOT NULL),
    o AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM d),
    nn AS (SELECT COUNT(*) AS n FROM d)
    """
    + " UNION ALL ".join(
        f"""
        SELECT CAST({p} AS DOUBLE) AS prob,
               (SELECT x FROM o, nn
                WHERE rn = CAST(FLOOR((n - 1) * {p}) AS BIGINT) + 1) AS value,
               (SELECT CAST(FLOOR((n - 1) * {p}) AS BIGINT) + 1 FROM nn) AS target_rank,
               (SELECT n FROM nn) AS n
        """
        for p in _QPROBS
    ),
)
def q60(spark, sf):
    """Exact discrete quantiles of l_extendedprice without a global
    sort: map-combinable value-count shuffle → two-phase prefix sum
    over range buckets (bounded driver state) → per-prob min-value
    selection (`operators/quantiles.py:exact_quantiles`)."""
    from duckdb_graphar_spark.operators.quantiles import exact_quantiles

    return exact_quantiles(_t(spark, sf, "lineitem"), "l_extendedprice", _QPROBS)


@_q(
    "q92_percentile_cont",
    # ORACLE: the interpolation spelled out with the SAME arithmetic —
    # pos = (n−1)·p in exact DECIMAL, the two bracketing order
    # statistics by explicit row_number rank, frac cast to DOUBLE once
    # (correctly rounded on both engines), one multiply-add — rather
    # than DuckDB's quantile_cont, whose internal arithmetic is
    # unspecified.
    """
    WITH d AS (SELECT l_extendedprice AS x FROM lineitem WHERE l_extendedprice IS NOT NULL),
    o AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM d),
    nn AS (SELECT COUNT(*) AS n FROM d)
    """
    + " UNION ALL ".join(
        f"""
        SELECT CAST({p} AS DOUBLE) AS prob,
               (SELECT lo.x + CAST((n - 1) * {p} - FLOOR((n - 1) * {p}) AS DOUBLE)
                            * (hi.x - lo.x)
                FROM nn, o lo, o hi
                WHERE lo.rn = CAST(FLOOR((n - 1) * {p}) AS BIGINT) + 1
                  AND hi.rn = CASE
                        WHEN (n - 1) * {p} > FLOOR((n - 1) * {p})
                        THEN LEAST(CAST(FLOOR((n - 1) * {p}) AS BIGINT) + 2, n)
                        ELSE CAST(FLOOR((n - 1) * {p}) AS BIGINT) + 1 END
               ) AS value,
               (SELECT n FROM nn) AS n
        """
        for p in _QPROBS
    ),
)
def q92(spark, sf):
    """Exact CONTINUOUS percentiles (ANSI percentile_cont — linear
    interpolation between the bracketing order statistics) without a
    global sort: q60's two-phase distributed rank machinery selects
    BOTH bracketing values per prob from one ranked frame; pos =
    (n−1)·p is exact driver-side decimal so the floor never rounds the
    wrong way, and the interpolation is one bit-stable multiply-add
    (`operators/quantiles.py:exact_quantiles_cont`)."""
    from duckdb_graphar_spark.operators.quantiles import exact_quantiles_cont

    return exact_quantiles_cont(
        _t(spark, sf, "lineitem"), "l_extendedprice", _QPROBS
    )


_STATS_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_orderkey", "l_linenumber"]


@_q(
    "q61_table_stats",
    " UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               COUNT(*) FILTER (WHERE {c} IS NULL) AS n_nulls,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS DOUBLE) AS min_v,
               CAST(MAX({c}) AS DOUBLE) AS max_v
        FROM lineitem
        """
        for c in _STATS_COLS
    ),
)
def q61(spark, sf):
    """ANALYZE-style per-column stats for six lineitem columns in ONE
    scan (nulls / exact ndv / min / max, unpivoted via stack) — the
    statistics surface the reference stubs out (GetStatistics →
    nullptr); exact_ndv=False is the documented HLL++ 100 TB knob
    (`operators/stats.py:table_stats`)."""
    from duckdb_graphar_spark.operators.stats import table_stats

    return table_stats(_t(spark, sf, "lineitem"), _STATS_COLS)


@_q(
    "q62_cdc_upsert",
    # ORACLE: latest change per key via ROW_NUMBER (a DIFFERENT
    # construction than the operator's map-combinable max_by), then the
    # same full-outer merge with delete filtering.
    """
    WITH ch AS (
      SELECT o_custkey AS k, o_orderkey AS seq, o_orderstatus = 'P' AS del,
             o_totalprice AS acctbal, o_orderpriority AS segment
      FROM orders
    ),
    latest AS (
      SELECT k, del, acctbal, segment FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM ch
      ) WHERE rn = 1
    ),
    s AS (SELECT c_custkey AS k, c_acctbal AS acctbal, c_mktsegment AS segment
          FROM customer)
    SELECT COALESCE(s.k, l.k) AS c_custkey,
           CASE WHEN l.k IS NOT NULL THEN l.acctbal ELSE s.acctbal END AS acctbal,
           CASE WHEN l.k IS NOT NULL THEN l.segment ELSE s.segment END AS segment,
           CASE WHEN l.k IS NULL THEN 'keep'
                WHEN s.k IS NULL THEN 'insert'
                ELSE 'update' END AS op
    FROM s FULL OUTER JOIN latest l ON s.k = l.k
    WHERE l.del IS NULL OR NOT l.del
    """,
)
def q62(spark, sf):
    """CDC upsert (MERGE): orders replayed as a change feed against the
    customer snapshot — latest change per key via ONE map-combinable
    max_by aggregate (hot keys collapse executor-side before the
    shuffle), full-outer merge, status='P' deletes
    (`operators/cdc.py:apply_changes`)."""
    from duckdb_graphar_spark.operators.cdc import apply_changes

    snapshot = _t(spark, sf, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    changes = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        (F.col("o_orderstatus") == "P").alias("is_del"),
        F.col("o_totalprice").alias("acctbal"),
        F.col("o_orderpriority").alias("segment"),
    )
    return apply_changes(
        snapshot,
        changes,
        key_col="c_custkey",
        seq_col="seq",
        delete_col="is_del",
        payload_cols=["acctbal", "segment"],
    )


@_q(
    "g15_label_propagation",
    # ORACLE: the 2 synchronous rounds unrolled; the operator's
    # max(struct(count, -label)) argmax is replayed as ROW_NUMBER
    # (ORDER BY c DESC, lab ASC) — a different construction of the same
    # deterministic pick.
    f"""
    WITH raw AS ({_E_SQL}),
    e0 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
           FROM raw WHERE src <> dst),
    nbr AS (SELECT a AS v, b AS u FROM e0 UNION ALL SELECT b AS v, a AS u FROM e0),
    l0 AS (SELECT id, id AS lab FROM (SELECT a AS id FROM e0 UNION SELECT b FROM e0)),
    r1 AS (SELECT n.v, l.lab, COUNT(*) AS c FROM nbr n JOIN l0 l ON l.id = n.u
           GROUP BY n.v, l.lab),
    l1 AS (SELECT v AS id, lab FROM (
             SELECT v, lab, ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rn
             FROM r1) WHERE rn = 1),
    r2 AS (SELECT n.v, l.lab, COUNT(*) AS c FROM nbr n JOIN l1 l ON l.id = n.u
           GROUP BY n.v, l.lab),
    l2 AS (SELECT v AS id, lab FROM (
             SELECT v, lab, ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rn
             FROM r2) WHERE rn = 1)
    SELECT id, lab AS label FROM l2
    """,
)
def g15(spark, sf):
    """Deterministic synchronous label propagation, 2 fixed rounds
    (most-frequent neighbor label, smallest-label ties) — the argmax is
    one map-combinable max(struct) aggregate, never a per-vertex window
    sort (`operators/graph.py:label_propagation`)."""
    from duckdb_graphar_spark.operators.graph import label_propagation

    return label_propagation(
        _edges(spark, sf), n_iters=2, src_col="src", dst_col="dst"
    )


@_q(
    "g16_personalized_pagerank",
    # ORACLE: g09's unrolled-iteration replay with the teleport term
    # moved to the source vertex.  The (1-d) base is written as an IEEE
    # double SUBTRACTION (1.0 - 0.85 = 0.15000000000000002 ≠ literal
    # 0.15) to mirror the operator's Python-computed lit exactly.
    f"""
    WITH e AS ({_E_SQL}),
    v AS (SELECT c_custkey AS id FROM customer),
    od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    r0 AS (SELECT id, CASE WHEN id = 1 THEN CAST(1.0 AS DOUBLE)
                           ELSE CAST(0.0 AS DOUBLE) END AS r FROM v),
    s1 AS (SELECT e.dst AS id, SUM(CAST(r0.r / od.d AS DECIMAL(38,18))) AS s
           FROM e JOIN od USING (src) JOIN r0 ON r0.id = e.src GROUP BY e.dst),
    r1 AS (SELECT v.id,
                  ROUND(CASE WHEN v.id = 1
                             THEN CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)
                             ELSE CAST(0.0 AS DOUBLE) END
                        + CAST(0.85 AS DOUBLE)
                          * CAST(COALESCE(s1.s, CAST(0 AS DECIMAL(38,18))) AS DOUBLE),
                        12) AS r
           FROM v LEFT JOIN s1 USING (id)),
    s2 AS (SELECT e.dst AS id, SUM(CAST(r1.r / od.d AS DECIMAL(38,18))) AS s
           FROM e JOIN od USING (src) JOIN r1 ON r1.id = e.src GROUP BY e.dst),
    r2 AS (SELECT v.id,
                  ROUND(CASE WHEN v.id = 1
                             THEN CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)
                             ELSE CAST(0.0 AS DOUBLE) END
                        + CAST(0.85 AS DOUBLE)
                          * CAST(COALESCE(s2.s, CAST(0 AS DECIMAL(38,18))) AS DOUBLE),
                        12) AS r
           FROM v LEFT JOIN s2 USING (id))
    SELECT id, r AS ppr FROM r2
    """,
)
def g16(spark, sf):
    """Personalized PageRank seeded at vertex 1 (2 fixed iterations,
    damping 0.85): point-mass init, teleport (1-d) entirely to the
    seed — the related-items / local-community score
    (`operators/graph.py:personalized_pagerank`)."""
    from duckdb_graphar_spark.operators.graph import personalized_pagerank

    v = _t(spark, sf, "customer").select(F.col("c_custkey").alias("id"))
    return personalized_pagerank(
        _edges(spark, sf), v, 1, n_iters=2, src_col="src", dst_col="dst"
    )


@_q(
    "d05_keep_best_dedup",
    # ORACLE: same canonicalization (DuckDB regexp_replace needs the
    # explicit 'g' flag to match Java's replace-all), keeper via
    # ROW_NUMBER (quality desc, id asc) — a different construction of
    # the operator's max(struct(quality, -id)) pick.
    """
    WITH c AS (
      SELECT doc_id, n_chars,
             sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS canon_sha
      FROM documents
    ),
    p AS (SELECT canon_sha, doc_id, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY canon_sha
                                    ORDER BY n_chars DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY canon_sha) AS n_docs
          FROM c)
    SELECT canon_sha, doc_id AS keeper_id, n_docs - 1 AS n_dups,
           n_chars AS best_quality
    FROM p WHERE rn = 1
    """,
)
def d05(spark, sf):
    """Canonicalized exact dedup with keep-BEST policy (longest capture
    wins, ties → smallest id): ONE map-combinable max(struct) aggregate
    over a sha-keyed shuffle carrying (sha, quality, id) — never the
    text, never a window sort
    (`operators/dedup.py:canonical_keep_best`)."""
    from duckdb_graphar_spark.operators.dedup import canonical_keep_best

    return canonical_keep_best(_t(spark, sf, "documents"))


@_q(
    "st10_trending_topk",
    # ORACLE: tumbling counts limited to the windows append mode can
    # emit (end <= final watermark = max ts, the st09 rule), then the
    # per-window rank the serving-side batch step applies.
    """
    WITH mx AS (SELECT MAX(epoch(ts)) AS m FROM events),
    w AS (SELECT CAST(FLOOR(epoch(ts) / 300) AS BIGINT) AS b, event_type,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2),
    f AS (SELECT * FROM w WHERE (b + 1) * 300 <= (SELECT m FROM mx)),
    r AS (SELECT CAST(to_timestamp(b * 300) AS TIMESTAMP) AS window_start,
                 event_type, n,
                 ROW_NUMBER() OVER (PARTITION BY b ORDER BY n DESC, event_type) AS rank
          FROM f)
    SELECT window_start, event_type, n, rank FROM r WHERE rank <= 3
    """,
)
def st10(spark, sf):
    """Streaming trending top-3: the engine maintains tumbling
    (window, event_type) counts in append mode; ranking runs as the
    serving-side batch window over the FINALIZED sink windows — the
    trending-dashboard architecture (ranking over a streaming aggregate
    isn't a streaming op, and immutable emitted windows mean it doesn't
    need to be) (`streaming/ops.py:trending_topk`)."""
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        trending_topk,
        tumbling_window_agg,
    )

    stream = read_events_stream(spark, f"{sf}/events.parquet")
    sink = run_to_memory(
        tumbling_window_agg(stream, watermark="0 seconds"), "st10_out", mode="append"
    )
    return trending_topk(sink, k=3)


@_q(
    "q63_hll_sketch_union",
    # ORACLE: q31's tolerance pattern — sketch bytes differ across
    # engines, so emit the exact distinct count plus the in-band
    # assertion the merged estimate must clear.
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS within_tolerance
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q63(spark, sf):
    """Mergeable distinct-count sketches — the 100 TB rollup pattern
    q31's single-level approx_count_distinct can't show: per
    (returnflag, linestatus) HLL sketches built once, then UNION-merged
    to the returnflag level (hll_union_agg) without touching the rows
    again.  Estimate asserted within 5% of exact.

    NB: the `exact` count_distinct branch below exists ONLY so the
    oracle can assert the ±5% tolerance — in production the sketch
    pass stands alone (sketch-only is the whole point: no Expand, no
    second scan); don't copy the exact branch into a real rollup."""
    li = _t(spark, sf, "lineitem")
    sk = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey").alias("__sk")
    )
    merged = sk.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__approx")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("exact_orders")
    )
    return merged.join(exact, "l_returnflag").select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("__approx") - F.col("exact_orders"))
            <= F.col("exact_orders") * F.lit(0.05)
        ).alias("within_tolerance"),
    )


@_q(
    "q80_kmv_distinct_rollup",
    # ORACLE: the whole sketch is replayed bit-for-bit — u is md5
    # integer arithmetic + ONE division (the t36 discipline), bottom-k
    # is a deterministic (u, val) window, the estimate is one more
    # division over identical doubles, and the merge invariance
    # (bottom-k of per-day bottom-k's == direct bottom-k) holds on both
    # engines by construction.  Unlike q63's HLL, no approximation flag
    # is needed for the SKETCH — only for its distance from exact
    # (tol = 3/sqrt(64) = 0.375, the KMV standard-error bound).
    """
    WITH b AS (SELECT DISTINCT event_type AS g, date_trunc('day', ts) AS p,
                      CAST(user_id AS VARCHAR) AS val
               FROM events),
    h AS (SELECT g, p, val,
                 (CAST(concat('0x', substr(md5('kmv0' || chr(31) || val), 1, 13))
                       AS UBIGINT) + 1) / 4503599627370497.0 AS u
          FROM b),
    sv AS (SELECT DISTINCT g, val, u FROM (
             SELECT g, val, u,
                    ROW_NUMBER() OVER (PARTITION BY g, p ORDER BY u, val) AS rn
             FROM h) WHERE rn <= 64),
    sk AS (SELECT g, MAX(u) AS kth_u, COUNT(*) AS n_sk FROM (
             SELECT g, val, u,
                    ROW_NUMBER() OVER (PARTITION BY g ORDER BY u, val) AS rn
             FROM sv) WHERE rn <= 64 GROUP BY g),
    ex AS (SELECT event_type AS g, COUNT(DISTINCT user_id) AS n_exact
           FROM events GROUP BY 1)
    SELECT ex.g AS event_type,
           CAST(ex.n_exact AS BIGINT) AS n_exact,
           ROUND(sk.kth_u, 12) AS kth_u,
           ROUND(CASE WHEN sk.n_sk < 64 THEN CAST(sk.n_sk AS DOUBLE)
                      ELSE 63.0 / sk.kth_u END, 4) AS est_distinct,
           (ABS(CASE WHEN sk.n_sk < 64 THEN CAST(sk.n_sk AS DOUBLE)
                     ELSE 63.0 / sk.kth_u END - ex.n_exact)
            / ex.n_exact) <= 0.375 AS within_tol
    FROM ex JOIN sk ON ex.g = sk.g
    """,
)
def q80(spark, sf):
    """Mergeable K-MINIMUM-VALUES distinct sketch rollup — q63's HLL
    pattern with a sketch that is BIT-EXACT across engines: per
    (event_type, day) bottom-64 of content-addressed md5 hashes, rolled
    up to event_type by one more bottom-k pass (bottom-k of per-partial
    bottom-k's ≡ direct bottom-k — the map-combinable merge), estimate
    D̂ = (k−1)/u_k.  The shuffle carries ≤ 64·days hashes per group,
    never the user stream; the oracle replays the sketch itself, not
    just a tolerance band (`operators/sketch.py:kmv_distinct_rollup`)."""
    from duckdb_graphar_spark.operators.sketch import kmv_distinct_rollup

    ev = _t(spark, sf, "events").withColumn(
        "__day", F.date_trunc("day", F.col("ts"))
    )
    return kmv_distinct_rollup(
        ev, "event_type", "user_id", partial_col="__day", k=64
    )




@_q(
    "q81_cms_heavy_key_estimates",
    # ORACLE: the sketch replays bit-for-bit — bucket ids are the same
    # md5-top-13-hex-digits integer arithmetic as q80/t36 (mod 512),
    # counters are integer COUNT sums, the estimate is an integer MIN:
    # every column including the ε-bound flag is deterministic on both
    # engines.  The oracle skips the per-day partial stage (counter
    # addition is trivially associative; the merge is what the Spark
    # path demonstrates, not what changes the answer).
    _CMS_ORACLE,
)
def q81(spark, sf):
    """Mergeable COUNT-MIN frequency sketch with point estimates for the
    per-group heavy keys — the frequency axis next to q80's distinct
    axis.  Per-(event_type, day) counter partials (map-combinable
    integer sums) roll up by elementwise addition; the shuffle carries
    ≤ depth·width·days counter rows per group, never the event stream.
    Point queries broadcast a tiny probe set (3 keys × 3 hash rows per
    group) against the bounded counter table; estimates are integer
    MINs, overestimates by construction, ε-bound-checked with integer
    arithmetic (`operators/sketch.py:cms_point_estimates`)."""
    from duckdb_graphar_spark.operators.sketch import cms_point_estimates

    ev = _t(spark, sf, "events").withColumn(
        "__day", F.date_trunc("day", F.col("ts"))
    )
    return cms_point_estimates(
        ev,
        "event_type",
        "user_id",
        partial_col="__day",
        depth=3,
        width=512,
        top_n=3,
    )


@_q(
    "q82_pivot_unpivot_roundtrip",
    # ORACLE: the direct long-form aggregate with matches_direct=TRUE.
    # The Spark path computes the SAME rows by going wide (pivot with
    # explicit status values) and back long (stack), then flag-compares
    # against the direct aggregate computed independently — a pivot bug
    # (dropped cell, swapped column, lossy double sum) either breaks a
    # value or flips the flag, and both break the oracle match.  The
    # decimal(26,8) totals make the wide/long/direct sums identical
    # regardless of aggregation order.
    """
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(26,8))) AS DOUBLE), 2)
               AS total_price,
           TRUE AS matches_direct
    FROM orders GROUP BY 1, 2
    """,
)
def q82(spark, sf):
    """PIVOT / UNPIVOT round-trip — the wide⇄long reshaping surface:
    groupBy().pivot() with EXPLICIT pivot values (no extra
    distinct-values job, the scale discipline — implicit pivot scans
    the column twice), two measures per cell (count + decimal-exact
    total), then `stack` back to long form, flag-checked cell-by-cell
    against the direct long aggregate.  One shuffle for the pivot, one
    for the direct twin; both map-combinable."""
    o = _t(spark, sf, "orders")
    dec = F.col("o_totalprice").cast("decimal(26,8)")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dec).alias("t"))
    )
    long = wide.select(
        "o_orderpriority",
        F.expr(
            "stack(3, 'F', F_n, F_t, 'O', O_n, O_t, 'P', P_n, P_t)"
            " AS (o_orderstatus, n_orders, __t)"
        ),
    ).filter(F.col("n_orders").isNotNull())
    direct = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("__dn"), F.sum(dec).alias("__dt")
    )
    return long.join(direct, ["o_orderpriority", "o_orderstatus"]).select(
        "o_orderpriority",
        "o_orderstatus",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round(F.col("__t").cast("double"), 2).alias("total_price"),
        (
            (F.col("n_orders") == F.col("__dn"))
            & (F.col("__t") == F.col("__dt"))
        ).alias("matches_direct"),
    )


@_q(
    "m06_audio_energy",
    # ORACLE: never sees the PCM bytes — recomputes sample values
    # (byte-80)·256 straight from the text (ASCII fixture: byte i ==
    # code point i), so a codec bug on either side breaks the match.
    # All-integer features: energy Σs², sign-flip crossings, peak |s|.
    """
    WITH x AS (
      SELECT doc_id,
             [(unicode(text[i]) - 80) * 256
              FOR i IN generate_series(1, length(text))] AS s
      FROM documents
    )
    SELECT doc_id,
           CAST(len(s) AS BIGINT) AS n_samples,
           CAST(list_sum([CAST(v * v AS BIGINT) FOR v IN s]) AS BIGINT) AS total_energy,
           CAST(COALESCE(list_sum(
             [CASE WHEN (s[i] < 0) <> (s[i+1] < 0) THEN 1 ELSE 0 END
              FOR i IN generate_series(1, len(s) - 1)]), 0) AS BIGINT) AS n_zero_cross,
           CAST(list_max([abs(v) FOR v IN s]) AS BIGINT) AS peak
    FROM x
    """,
)
def m06(spark, sf):
    """Audio-modality pipeline over REAL bytes: every document rendered
    as a genuine little-endian int16 PCM buffer in one Arrow-batched
    mapInPandas stage (`encode_text_pcm`), then decoded back with
    numpy frombuffer in a second (`pcm_energy_stats`) for the
    energy / zero-crossing / peak quality trio
    (`operators/multimodal.py`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_pcm,
        pcm_energy_stats,
    )

    return pcm_energy_stats(encode_text_pcm(_t(spark, sf, "documents")))


@_q(
    "m07_jpeg_roundtrip",
    # ORACLE: never sees the JPEG bytes — the fixture image is wb×hb
    # FLAT 8×8 blocks (block b = text byte b mod L), and flat blocks
    # survive baseline JPEG's lossy pipeline bit-exactly (AC
    # coefficients identically zero, all-ones quant table keeps DC
    # integral), so pixel stats are recomputable from the text alone; a
    # Huffman/DCT/zigzag/stuffing bug on either side breaks the match.
    # Pixel mean = block-value mean (each block contributes 64 equal
    # pixels; ÷64 is a power-of-two scaling, so the IEEE quotient is
    # identical).
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 4 AS wb,
             1 + doc_id % 3 AS hb, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, wb, hb,
             unicode(text[CAST(j % L AS INTEGER) + 1]) AS v
      FROM g, UNNEST(generate_series(0, CAST(wb * hb AS BIGINT) - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(8 * wb AS BIGINT) AS width,
           CAST(8 * hb AS BIGINT) AS height,
           ROUND(CAST(SUM(v) AS DOUBLE) / (wb * hb), 6) AS mean_gray,
           CAST(MIN(v) AS BIGINT) AS min_gray,
           CAST(MAX(v) AS BIGINT) AS max_gray
    FROM b GROUP BY doc_id, wb, hb
    """,
)
def m07(spark, sf):
    """Compressed-image modality over a REAL pure-numpy baseline JPEG
    codec: each document rendered as a genuine JFIF file (forward DCT,
    Annex-K canonical Huffman, DPCM DC + run-length AC, byte stuffing —
    `operators/multimodal.py:encode_gray_jpeg`), then decoded back
    through the full general pipeline (marker parse, Huffman decode,
    dequantize, 64-coefficient IDCT — `decode_jpeg_gray`) for
    width/height/mean/min/max pixel stats.  Two Arrow-batched
    mapInPandas stages, no shuffle."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_jpeg,
        jpeg_gray_stats,
    )

    return jpeg_gray_stats(encode_text_jpeg(_t(spark, sf, "documents")))


@_q(
    "m28_tiff_strips",
    # ORACLE: never sees the TIFF bytes — recomputes the stride-5
    # cyclic sample straight from the text (ASCII fixture: byte ==
    # code point), plus the strip count the IFD truthfully reports
    # (ceil(h/3)).  Byte order alternates by id parity, so a decoder
    # that only handles II (or misreads MM's left-justified SHORT
    # value fields) breaks half the rows.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 9 AS w,
             1 + doc_id % 7 AS h, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, w, h,
             unicode(text[CAST((t.j * 5) % L AS INTEGER) + 1]) AS v
      FROM g, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST((h + 2) // 3 AS BIGINT) AS n_strips,
           CAST(SUM(v) AS BIGINT) AS sum_px,
           CAST(MIN(v) AS BIGINT) AS min_px,
           CAST(MAX(v) AS BIGINT) AS max_px
    FROM b GROUP BY doc_id, w, h
    """,
)
def m28(spark, sf):
    """Baseline TIFF 6.0 modality — the scanned-document/scientific
    container family the codec suite lacked (BMP/netpbm/PNG/JPEG/GIF/
    RIFF covered): byte-order header (II little AND MM big, alternating
    by id parity), IFD walk with SHORT-left-justified value-field
    semantics, MULTI-STRIP layout with real StripOffsets/
    StripByteCounts LONG arrays (3 rows per strip — streaming readers'
    whole reason for strips).  Stride-5 text sample, distinct from
    BMP/PPM/PGM so the four row-organized decoders can't share a bug.
    Two Arrow-batched mapInPandas stages, no shuffle
    (`operators/multimodal.py:encode_gray_tiff/decode_gray_tiff`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_tiff,
        tiff_gray_stats,
    )

    return tiff_gray_stats(encode_text_tiff(_t(spark, sf, "documents")))


@_q(
    "m30_tiff_packbits",
    # ORACLE: m28's stride-5 prediction verbatim — identical pixels;
    # what changes is the STRIP ENCODING (Compression=32773: per-row
    # PackBits runs/literals, StripByteCounts carrying COMPRESSED
    # lengths).  A decoder that ignores the compression tag reads RLE
    # control bytes as pixels; one that crosses row boundaries in a
    # run desynchronizes every following strip.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 9 AS w,
             1 + doc_id % 7 AS h, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, w, h,
             unicode(text[CAST((t.j * 5) % L AS INTEGER) + 1]) AS v
      FROM g, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST((h + 2) // 3 AS BIGINT) AS n_strips,
           CAST(SUM(v) AS BIGINT) AS sum_px,
           CAST(MIN(v) AS BIGINT) AS min_px,
           CAST(MAX(v) AS BIGINT) AS max_px
    FROM b GROUP BY doc_id, w, h
    """,
)
def m30(spark, sf):
    """PACKBITS-compressed TIFF (Compression=32773 — the baseline RLE
    every fax/scan pipeline ships; retires half of m28's
    compressed-TIFF guard): per-ROW PackBits runs and literals (the
    spec's boundary rule — a run never crosses rows), real COMPRESSED
    StripByteCounts, decompression inside the same general IFD walk,
    both byte orders.  Same stride-5 oracle as m28: one prediction,
    two strip encodings
    (`operators/multimodal.py:_packbits_row/_packbits_decode`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_tiff,
        tiff_gray_stats,
    )

    return tiff_gray_stats(
        encode_text_tiff(_t(spark, sf, "documents"), packbits=True)
    )


@_q(
    "m31_tiff_lzw",
    # ORACLE: m28's stride-5 prediction verbatim — identical pixels;
    # what changes is the STRIP ENCODING (Compression=5: per-strip LZW
    # with MSB-first codes and the spec's EARLY-CHANGE width rule —
    # the wire-level opposite of the GIF LZW already in the suite,
    # which is LSB-first with late change; a decoder that confuses the
    # two desynchronizes at the first 9→10-bit boundary).
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 9 AS w,
             1 + doc_id % 7 AS h, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, w, h,
             unicode(text[CAST((t.j * 5) % L AS INTEGER) + 1]) AS v
      FROM g, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST((h + 2) // 3 AS BIGINT) AS n_strips,
           CAST(SUM(v) AS BIGINT) AS sum_px,
           CAST(MIN(v) AS BIGINT) AS min_px,
           CAST(MAX(v) AS BIGINT) AS max_px
    FROM b GROUP BY doc_id, w, h
    """,
)
def m31(spark, sf):
    """LZW-compressed TIFF (Compression=5 — closing the compressed-
    TIFF guard m30's PackBits halved): per-STRIP LZW with TIFF's wire
    choices — MSB-first bit packing, EARLY-CHANGE code widths (bump at
    next-available == 2^w − 1, one code before GIF's rule), ClearCode
    reset at the 4094 boundary — decompressed inside the same general
    IFD walk, both byte orders.  The suite now carries BOTH LZW wire
    variants (GIF m17: LSB-first late-change; TIFF m31: MSB-first
    early-change), so a shared-bug shortcut between them is
    structurally impossible.  Same stride-5 oracle as m28/m30: one
    prediction, three strip encodings
    (`operators/multimodal.py:_lzw_encode_tiff/_lzw_decode_tiff`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_tiff,
        tiff_gray_stats,
    )

    return tiff_gray_stats(
        encode_text_tiff(_t(spark, sf, "documents"), lzw=True)
    )


@_q(
    "m26_jpeg_restart_markers",
    # ORACLE: m07's flat-block prediction verbatim — identical image
    # content; what changes is the ENTROPY-STREAM STRUCTURE (DRI
    # segment + byte-aligned RST0..RST7 every 2 MCUs, DC predictor
    # reset per segment, modulo-8 sequence verified).  A decoder that
    # misses the DC reset shifts every post-restart block's gray level;
    # one that doesn't byte-align reads the marker as entropy bits.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 4 AS wb,
             1 + doc_id % 3 AS hb, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, wb, hb,
             unicode(text[CAST(j % L AS INTEGER) + 1]) AS v
      FROM g, UNNEST(generate_series(0, CAST(wb * hb AS BIGINT) - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(8 * wb AS BIGINT) AS width,
           CAST(8 * hb AS BIGINT) AS height,
           ROUND(CAST(SUM(v) AS DOUBLE) / (wb * hb), 6) AS mean_gray,
           CAST(MIN(v) AS BIGINT) AS min_gray,
           CAST(MAX(v) AS BIGINT) AS max_gray
    FROM b GROUP BY doc_id, wb, hb
    """,
)
def m26(spark, sf):
    """Baseline JPEG with RESTART MARKERS (DRI + RSTn — the
    error-resilience / parallel-decode feature virtually every camera
    JPEG carries, T.81 B.2.4.4): m07's pixels with the entropy stream
    cut into 2-MCU restart segments — byte-aligned markers cycling
    D0..D7, DC prediction reset per segment, sequence numbers verified
    on decode.  Same flat-block oracle as m07: one prediction, three
    wire formats (m07 plain, m22 16-bit DQT, m26 restarts)
    (`operators/multimodal.py:encode_gray_jpeg(restart_interval)/
    decode_jpeg_gray/_BitReader.restart`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_jpeg,
        jpeg_gray_stats,
    )

    return jpeg_gray_stats(
        encode_text_jpeg(_t(spark, sf, "documents"), restart_interval=2)
    )


@_q(
    "m29_jpeg_progressive",
    # ORACLE: m07's flat-block prediction verbatim — identical image
    # content; what changes is the ENTIRE SCAN ARCHITECTURE (SOF2, six
    # scans: DC first + two spectral AC bands at successive-
    # approximation precision Al=1, then DC/AC refinement completing
    # Al=0, per-scan redefined Huffman tables, cross-block EOBn runs).
    # A decoder that mis-handles refinement correction bits or EOB
    # runs shifts gray levels; one that misses the DHT redefinition
    # between scans reads the wrong codes.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 4 AS wb,
             1 + doc_id % 3 AS hb, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, wb, hb,
             unicode(text[CAST(j % L AS INTEGER) + 1]) AS v
      FROM g, UNNEST(generate_series(0, CAST(wb * hb AS BIGINT) - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(8 * wb AS BIGINT) AS width,
           CAST(8 * hb AS BIGINT) AS height,
           ROUND(CAST(SUM(v) AS DOUBLE) / (wb * hb), 6) AS mean_gray,
           CAST(MIN(v) AS BIGINT) AS min_gray,
           CAST(MAX(v) AS BIGINT) AS max_gray
    FROM b GROUP BY doc_id, wb, hb
    """,
)
def m29(spark, sf):
    """PROGRESSIVE JPEG (SOF2 — the most common real-corpus JPEG
    variant after baseline): m07's pixels delivered as a genuine
    six-scan progressive stream — spectral selection (DC, AC 1–5,
    AC 6–63) at successive-approximation precision Al=1, then DC and
    AC refinement scans completing Al=0, each entropy scan with its
    own optimized Huffman table (the between-scan DHT redefinition
    path) and real cross-block EOB runs.  The decoder accumulates
    coefficients across scans per T.81 Annex G and IDCTs once at EOI.
    Same flat-block oracle as m07: one prediction, FOUR wire formats
    now (m07 plain, m22 16-bit DQT, m26 restarts, m29 progressive)
    (`operators/multimodal.py:encode_gray_jpeg_progressive/
    _decode_prog_scan`; retires the reference-era SOF2 scope guard)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_jpeg,
        jpeg_gray_stats,
    )

    return jpeg_gray_stats(
        encode_text_jpeg(_t(spark, sf, "documents"), progressive=True)
    )


@_q(
    "m22_jpeg_quant16",
    # ORACLE: m07's flat-block prediction verbatim — the image content
    # and therefore every stat is identical; what changes is the WIRE
    # FORMAT (DQT Pq=1: 16-bit big-endian table values, T.81's extended
    # precision), so a parser that misreads the precision bit or the
    # 129-byte table stride scrambles dequantization and breaks the
    # match.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 4 AS wb,
             1 + doc_id % 3 AS hb, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, wb, hb,
             unicode(text[CAST(j % L AS INTEGER) + 1]) AS v
      FROM g, UNNEST(generate_series(0, CAST(wb * hb AS BIGINT) - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(8 * wb AS BIGINT) AS width,
           CAST(8 * hb AS BIGINT) AS height,
           ROUND(CAST(SUM(v) AS DOUBLE) / (wb * hb), 6) AS mean_gray,
           CAST(MIN(v) AS BIGINT) AS min_gray,
           CAST(MAX(v) AS BIGINT) AS max_gray
    FROM b GROUP BY doc_id, wb, hb
    """,
)
def m22(spark, sf):
    """Baseline JPEG with 16-BIT quantization tables (DQT Pq=1 — the
    T.81 extended-precision wire format; closes the last small-scope
    JPEG residual): same all-ones values so the pixels equal m07's,
    but the decoder must route on the precision nibble and stride 129
    bytes per table instead of 65.  One oracle text, two DQT formats
    (`operators/multimodal.py:encode_gray_jpeg(quant16=True)`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_jpeg,
        jpeg_gray_stats,
    )

    return jpeg_gray_stats(
        encode_text_jpeg(_t(spark, sf, "documents"), quant16=True)
    )


@_q(
    "m08_mjpeg_frame_sample",
    # ORACLE: never sees the AVI bytes — each frame is a flat-block
    # JPEG (m07's exactness argument) with the block pattern shifted by
    # the frame index, so per-frame stats are recomputable from the
    # text; a RIFF-walk or JPEG bug on either side breaks the match.
    """
    WITH g AS (SELECT doc_id, length(text) AS L,
                      1 + length(text) % 4 AS wb, 1 + doc_id % 3 AS hb,
                      1 + doc_id % 4 AS nf, text FROM documents),
    fr AS (SELECT doc_id, wb, hb, L, text, f
           FROM g, UNNEST(generate_series(0, CAST(nf AS BIGINT) - 1)) AS t(f)),
    b AS (SELECT doc_id, wb, hb, f,
                 unicode(text[CAST((j + f) % L AS INTEGER) + 1]) AS v
          FROM fr, UNNEST(generate_series(0, CAST(wb * hb AS BIGINT) - 1)) AS t2(j))
    SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, CAST(f * 100 AS BIGINT) AS ts_ms,
           CAST(8 * wb AS BIGINT) AS width, CAST(8 * hb AS BIGINT) AS height,
           ROUND(CAST(SUM(v) AS DOUBLE) / (wb * hb), 6) AS mean_gray
    FROM b GROUP BY doc_id, wb, hb, f
    """,
)
def m08(spark, sf):
    """Video modality with ZERO fakes: each document rendered as a real
    Motion-JPEG AVI (RIFF container: avih/strh/strf headers, '00dc'
    frame chunks, idx1 — `operators/multimodal.py:encode_mjpeg_avi`)
    holding 1 + id mod 4 genuine baseline-JPEG frames, then
    frame-sampled by a general RIFF chunk walk + full JPEG decode per
    frame (`mjpeg_frame_stats`).  The decode / frame-sample /
    feature-extract chain of the multimodal north-star, all real."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_mjpeg,
        mjpeg_frame_stats,
    )

    return mjpeg_frame_stats(encode_text_mjpeg(_t(spark, sf, "documents")))


@_q(
    "m09_png_roundtrip",
    # ORACLE: PNG is lossless, so pixel i = text byte (i mod L) exactly;
    # the encoder writes Sub-filtered CRC-stamped chunks and the decoder
    # re-derives pixels via inflate + filter reconstruction — any zlib /
    # filter / CRC bug on either side breaks the match.
    """
    WITH g AS (SELECT doc_id, length(text) AS L,
                      1 + length(text) % 24 AS w, 1 + doc_id % 10 AS h, text
               FROM documents),
    b AS (SELECT doc_id, w, h,
                 unicode(text[CAST(j % L AS INTEGER) + 1]) AS v
          FROM g, UNNEST(generate_series(0, CAST(w * h AS BIGINT) - 1)) AS t(j))
    SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           ROUND(CAST(SUM(v) AS DOUBLE) / (w * h), 6) AS mean_gray,
           CAST(MIN(v) AS BIGINT) AS min_gray, CAST(MAX(v) AS BIGINT) AS max_gray
    FROM b GROUP BY doc_id, w, h
    """,
)
def m09(spark, sf):
    """PNG modality over a REAL stdlib-zlib codec: each document
    rendered as a genuine 8-bit grayscale PNG (Sub-filtered scanlines,
    CRC-stamped chunks — `operators/multimodal.py:encode_gray_png`),
    decoded back through the general pipeline (chunk walk + CRC verify,
    multi-IDAT inflate, all-five-filter scanline reconstruction —
    `decode_png_gray`).  With JPEG (m07), MJPEG-AVI (m08), BMP, PPM and
    PCM, every compressed format the stub tier once faked now has a
    real dependency-free codec."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_png,
        png_gray_stats,
    )

    return png_gray_stats(encode_text_png(_t(spark, sf, "documents")))


@_q(
    "m16_interlaced_png",
    # ORACLE: identical to m09's — Adam7 changes the WIRE layout, not
    # the pixels, so the same lossless per-pixel prediction verifies
    # the seven-pass reassembly (any pass-grid offset/stride/scatter
    # bug redistributes pixels and breaks mean/min/max per doc).
    """
    WITH g AS (SELECT doc_id, length(text) AS L,
                      1 + length(text) % 24 AS w, 1 + doc_id % 10 AS h, text
               FROM documents),
    b AS (SELECT doc_id, w, h,
                 unicode(text[CAST(j % L AS INTEGER) + 1]) AS v
          FROM g, UNNEST(generate_series(0, CAST(w * h AS BIGINT) - 1)) AS t(j))
    SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           ROUND(CAST(SUM(v) AS DOUBLE) / (w * h), 6) AS mean_gray,
           CAST(MIN(v) AS BIGINT) AS min_gray, CAST(MAX(v) AS BIGINT) AS max_gray
    FROM b GROUP BY doc_id, w, h
    """,
)
def m16(spark, sf):
    """ADAM7 INTERLACED PNG (the progressive-rendering wire layout —
    the last PNG scope residual after palette): each document written
    as seven pass-ordered independently-Sub-filtered sub-images
    (`encode_gray_png(interlace=True)`) and reassembled by the general
    decoder's pass-grid scatter (`_png_reconstruct_interlaced` —
    offsets/strides per the spec's 8×8 pattern, empty passes skipped).
    Same pixels as m09, different wire layout: the shared oracle pins
    the reassembly.  Two Arrow-batched mapInPandas stages, no
    shuffle."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_png,
        png_gray_stats,
    )

    return png_gray_stats(
        encode_text_png(_t(spark, sf, "documents"), interlace=True)
    )


@_q(
    "m32_progressive_color_jpeg",
    # ORACLE: m10's fixed-point BT.601 round-trip verbatim — the
    # fixture's flat 16×16 MCUs make the 4:2:0 chroma mean an identity,
    # so the 4:4:4 PROGRESSIVE encoding decodes to the same colors;
    # what changes is the ENTIRE scan architecture (SOF2, eight scans:
    # interleaved DC with PER-COMPONENT predictors, per-component
    # spectral AC at Al=1, DC/AC refinement to Al=0, per-scan Huffman
    # redefinition).
    """
    WITH docs AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 3 AS wm,
             1 + doc_id % 2 AS hm, text
      FROM documents
    ),
    mcus AS (
      SELECT doc_id, wm, hm,
             unicode(text[CAST(m % L AS INTEGER) + 1]) AS vr,
             unicode(text[CAST((2 * m + 1) % L AS INTEGER) + 1]) AS vg,
             unicode(text[CAST((3 * m + 2) % L AS INTEGER) + 1]) AS vb
      FROM docs, UNNEST(generate_series(0, CAST(wm * hm AS BIGINT) - 1)) AS t(m)
    ),
    yc AS (
      SELECT doc_id, wm, hm,
        LEAST(255, GREATEST(0, CAST(FLOOR(
          (19595 * vr + 38470 * vg + 7471 * vb + 32768) / 65536.0) AS BIGINT)))
          AS y,
        LEAST(255, GREATEST(0, CAST(FLOOR(
          (-11059 * vr - 21709 * vg + 32768 * vb + 32768) / 65536.0) AS BIGINT)
          + 128)) AS cb,
        LEAST(255, GREATEST(0, CAST(FLOOR(
          (32768 * vr - 27439 * vg - 5329 * vb + 32768) / 65536.0) AS BIGINT)
          + 128)) AS cr
      FROM mcus
    ),
    rgb AS (
      SELECT doc_id, wm, hm,
        LEAST(255, GREATEST(0, y + CAST(FLOOR(
          (91881 * (cr - 128) + 32768) / 65536.0) AS BIGINT))) AS rr,
        LEAST(255, GREATEST(0, y - CAST(FLOOR(
          (22554 * (cb - 128) + 46802 * (cr - 128) + 32768) / 65536.0)
          AS BIGINT))) AS gg,
        LEAST(255, GREATEST(0, y + CAST(FLOOR(
          (116130 * (cb - 128) + 32768) / 65536.0) AS BIGINT))) AS bb
      FROM yc
    )
    SELECT doc_id,
           CAST(16 * wm AS BIGINT) AS width,
           CAST(16 * hm AS BIGINT) AS height,
           CAST(256 * SUM(rr) AS BIGINT) AS sum_r,
           CAST(256 * SUM(gg) AS BIGINT) AS sum_g,
           CAST(256 * SUM(bb) AS BIGINT) AS sum_b
    FROM rgb GROUP BY doc_id, wm, hm
    """,
)
def m32(spark, sf):
    """PROGRESSIVE COLOR JPEG (SOF2, 4:4:4) — closing the JPEG family:
    the interleaved-DC progressive structure real photo JPEGs carry
    (T.81 allows interleave only for progressive DC scans; the three
    components keep separate predictors inside one MCU loop), plus
    per-component spectral-selection AC scans and successive-
    approximation refinement, decoded by accumulating three coefficient
    planes across eight scans and IDCT-ing once at EOI — then the same
    fixed-point YCbCr→RGB as baseline.  m10's oracle verbatim: one
    fixed-point prediction, THREE color wire formats now (m10 4:2:0
    baseline, 4:4:4 baseline, m32 4:4:4 progressive)
    (`operators/multimodal.py:encode_color_jpeg_progressive/
    _decode_prog_dc_scan`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_color_jpeg,
        jpeg_color_stats,
    )

    return jpeg_color_stats(
        encode_text_color_jpeg(_t(spark, sf, "documents"), progressive=True)
    )


@_q(
    "m10_color_jpeg",
    # ORACLE: never sees the JPEG bytes — the fixture image is wm×hm
    # FLAT 16×16 MCUs (MCU m's RGB = text bytes m, 2m+1, 3m+2 mod L),
    # and a flat MCU survives the whole lossy 4:2:0 color pipeline
    # bit-exactly (flat Y/Cb/Cr blocks have zero AC, all-ones quant
    # keeps DC integral, the 2×2 chroma mean of equal values is exact,
    # replication upsample of a flat plane is identity).  The decoded
    # color is therefore precisely the fixed-point BT.601 round-trip
    # of the source color, replayed here step for step: every constant
    # is 16.16 fixed-point and every division is by 2^16, so
    # FLOOR(x/65536.0) is exact in IEEE double and matches numpy's
    # arithmetic right shift bit for bit.  Outputs are integer pixel
    # SUMS — no float anywhere.
    """
    WITH docs AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 3 AS wm,
             1 + doc_id % 2 AS hm, text
      FROM documents
    ),
    mcus AS (
      SELECT doc_id, wm, hm,
             unicode(text[CAST(m % L AS INTEGER) + 1]) AS vr,
             unicode(text[CAST((2 * m + 1) % L AS INTEGER) + 1]) AS vg,
             unicode(text[CAST((3 * m + 2) % L AS INTEGER) + 1]) AS vb
      FROM docs, UNNEST(generate_series(0, CAST(wm * hm AS BIGINT) - 1)) AS t(m)
    ),
    yc AS (
      SELECT doc_id, wm, hm,
        LEAST(255, GREATEST(0, CAST(FLOOR(
          (19595 * vr + 38470 * vg + 7471 * vb + 32768) / 65536.0) AS BIGINT)))
          AS y,
        LEAST(255, GREATEST(0, CAST(FLOOR(
          (-11059 * vr - 21709 * vg + 32768 * vb + 32768) / 65536.0) AS BIGINT)
          + 128)) AS cb,
        LEAST(255, GREATEST(0, CAST(FLOOR(
          (32768 * vr - 27439 * vg - 5329 * vb + 32768) / 65536.0) AS BIGINT)
          + 128)) AS cr
      FROM mcus
    ),
    rgb AS (
      SELECT doc_id, wm, hm,
        LEAST(255, GREATEST(0, y + CAST(FLOOR(
          (91881 * (cr - 128) + 32768) / 65536.0) AS BIGINT))) AS rr,
        LEAST(255, GREATEST(0, y - CAST(FLOOR(
          (22554 * (cb - 128) + 46802 * (cr - 128) + 32768) / 65536.0)
          AS BIGINT))) AS gg,
        LEAST(255, GREATEST(0, y + CAST(FLOOR(
          (116130 * (cb - 128) + 32768) / 65536.0) AS BIGINT))) AS bb
      FROM yc
    )
    SELECT doc_id,
           CAST(16 * wm AS BIGINT) AS width,
           CAST(16 * hm AS BIGINT) AS height,
           CAST(256 * SUM(rr) AS BIGINT) AS sum_r,
           CAST(256 * SUM(gg) AS BIGINT) AS sum_g,
           CAST(256 * SUM(bb) AS BIGINT) AS sum_b
    FROM rgb GROUP BY doc_id, wm, hm
    """,
)
def m10(spark, sf):
    """COLOR image modality over a REAL pure-numpy baseline 4:2:0 JPEG
    codec: each document rendered as a genuine 3-component JFIF file
    (fixed-point BT.601 RGB→YCbCr, 2×2-mean chroma subsampling,
    interleaved MCU scan with per-component DC predictors and the four
    Annex-K luma+chroma Huffman tables —
    `operators/multimodal.py:encode_color_jpeg`), decoded back through
    the general color pipeline (marker parse with per-component table
    binding, interleaved entropy decode, IDCT, replication upsample,
    fixed-point YCbCr→RGB — `decode_color_jpeg`) for per-channel
    exact-integer pixel sums.  Closes the last material codec scope
    gap: real-world multimodal corpora are color.  Two Arrow-batched
    mapInPandas stages, no shuffle."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_color_jpeg,
        jpeg_color_stats,
    )

    return jpeg_color_stats(encode_text_color_jpeg(_t(spark, sf, "documents")))


@_q(
    "m11_thumbnail_downsample",
    # ORACLE: never sees any BMP bytes — the source image is the m04
    # text render (pixel byte i = text byte i mod L, w = 1+L%16,
    # h = 1+id%12), the 2× area-average downscale is integer-exact
    # ((Σ 2×2 cell + 2) // 4 with odd trailing rows/cols
    # edge-replicated, i.e. LEAST-clamped indices), and the channel
    # means of the thumbnail are recomputed from the text through that
    # same arithmetic.  A decode, resize, or re-encode bug on the
    # Spark side breaks the match.
    """
    WITH d0 AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS L,
             1 + (octet_length(encode(text)) % 16) AS w,
             1 + (doc_id % 12) AS h
      FROM documents
    ),
    grid AS (
      SELECT doc_id, L, text, w, h,
             (w + 1) // 2 AS ow, (h + 1) // 2 AS oh,
             (t.i // 3) // ((w + 1) // 2) AS y,
             (t.i // 3) % ((w + 1) // 2) AS x,
             t.i % 3 AS ch
      FROM d0, UNNEST(generate_series(
        0, CAST((w + 1) // 2 AS BIGINT) * ((h + 1) // 2) * 3 - 1)) AS t(i)
    ),
    vals AS (
      SELECT doc_id, ow, oh, ch,
        (  ord(substring(text, CAST(((LEAST(2*y,   h-1) * w + LEAST(2*x,   w-1)) * 3 + ch) % L + 1 AS INTEGER), 1))
         + ord(substring(text, CAST(((LEAST(2*y,   h-1) * w + LEAST(2*x+1, w-1)) * 3 + ch) % L + 1 AS INTEGER), 1))
         + ord(substring(text, CAST(((LEAST(2*y+1, h-1) * w + LEAST(2*x,   w-1)) * 3 + ch) % L + 1 AS INTEGER), 1))
         + ord(substring(text, CAST(((LEAST(2*y+1, h-1) * w + LEAST(2*x+1, w-1)) * 3 + ch) % L + 1 AS INTEGER), 1))
         + 2) // 4 AS v
      FROM grid
    )
    SELECT doc_id,
           CAST(MAX(ow) AS INTEGER) AS width,
           CAST(MAX(oh) AS INTEGER) AS height,
           ROUND(CAST(SUM(CASE WHEN ch = 0 THEN v END) AS DOUBLE)
                 / (MAX(ow) * MAX(oh)), 6) AS mean_b,
           ROUND(CAST(SUM(CASE WHEN ch = 1 THEN v END) AS DOUBLE)
                 / (MAX(ow) * MAX(oh)), 6) AS mean_g,
           ROUND(CAST(SUM(CASE WHEN ch = 2 THEN v END) AS DOUBLE)
                 / (MAX(ow) * MAX(oh)), 6) AS mean_r
    FROM vals GROUP BY doc_id
    """,
)
def m11(spark, sf):
    """REAL image resize (the `resize_stub` retirement): documents
    rendered as genuine BMPs, decoded, 2× area-average downscaled with
    integer-exact round-half-up arithmetic
    (`operators/multimodal.py:box_downsample_2x`), re-encoded as BMPs,
    then the thumbnails are parsed back for per-channel means
    (`bmp_channel_stats`) — decode → transform → re-encode → decode,
    all four codec passes real.  Three Arrow-batched mapInPandas
    stages, no shuffle; the thumbnail payload column is the mipmap
    primitive a media pipeline chains k times for 2^k pyramids."""
    from duckdb_graphar_spark.operators.multimodal import (
        bmp_channel_stats,
        downsample_images_2x,
        encode_text_bmp,
    )

    return bmp_channel_stats(
        downsample_images_2x(encode_text_bmp(_t(spark, sf, "documents")))
    )


@_q(
    "m12_rgb_png",
    # ORACLE: truecolor PNG is LOSSLESS, so every decoded byte equals
    # the text render directly (channel c of pixel i = byte (3i+c) mod
    # L) — per-channel exact integer sums, no float; a bpp=3 filter
    # reconstruction bug on either side breaks the match.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 12 AS w,
             1 + doc_id % 8 AS h, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, w, h, t.j % 3 AS ch,
             unicode(text[CAST(t.j % L AS INTEGER) + 1]) AS v
      FROM g, UNNEST(generate_series(0, CAST(w AS BIGINT) * h * 3 - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(SUM(CASE WHEN ch = 0 THEN v END) AS BIGINT) AS sum_r,
           CAST(SUM(CASE WHEN ch = 1 THEN v END) AS BIGINT) AS sum_g,
           CAST(SUM(CASE WHEN ch = 2 THEN v END) AS BIGINT) AS sum_b
    FROM b GROUP BY doc_id, w, h
    """,
)
def m12(spark, sf):
    """COLOR PNG modality (the last codec scope residual): each
    document rendered as a genuine 8-bit truecolor PNG (Sub-filtered
    scanlines with the spec's bpp=3 left reference —
    `operators/multimodal.py:encode_rgb_png`), decoded back through
    the general pipeline (CRC chunk walk, inflate, all-five-filter
    reconstruction generalized over bytes-per-pixel —
    `decode_png_rgb`) for per-channel exact-integer pixel sums.  With
    m10 (color JPEG) the color story is complete: lossy AND lossless.
    Two Arrow-batched mapInPandas stages, no shuffle."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_rgb_png,
        png_rgb_stats,
    )

    return png_rgb_stats(encode_text_rgb_png(_t(spark, sf, "documents")))


@_q(
    "m13_wav_container",
    # ORACLE: never sees the WAV bytes — sample values replay from the
    # text ((byte-80)·256, the m06 waveform), the container adds the
    # fixed 8 kHz rate and the integer-floor duration L·1000//8000.
    """
    WITH x AS (
      SELECT doc_id, length(text) AS L,
             [(unicode(text[i]) - 80) * 256
              FOR i IN generate_series(1, length(text))] AS s
      FROM documents
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST((L * 1000) // 8000 AS BIGINT) AS duration_ms,
           CAST(L AS BIGINT) AS n_samples,
           CAST(list_sum([CAST(v * v AS BIGINT) FOR v IN s]) AS BIGINT)
             AS total_energy,
           CAST(list_max([abs(v) FOR v IN s]) AS BIGINT) AS peak
    FROM x
    """,
)
def m13(spark, sf):
    """WAV container modality: the m06 PCM waveform wrapped in a REAL
    RIFF/WAVE file (canonical fmt + data chunks —
    `operators/multimodal.py:encode_wav`), decoded back by a GENERAL
    RIFF chunk walk that validates the fmt chunk and skips unknown
    chunks (`decode_wav`) — the container every audio pipeline
    actually reads, completing the audio story the raw-PCM path
    started.  All-integer outputs.  Two Arrow-batched mapInPandas
    stages, no shuffle."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_wav,
        wav_stats,
    )

    return wav_stats(encode_text_wav(_t(spark, sf, "documents")))


@_q(
    "m14_palette_png",
    # ORACLE: indexed PNG is LOSSLESS, so every decoded channel equals
    # the palette formula applied to the predicted index — idx of pixel
    # j = byte (j mod L) mod p, entry k = ((37k+11), (59k+23), (83k+5))
    # mod 256.  Per-channel exact integer sums; a PLTE-lookup or bpp=1
    # filter bug on either side breaks all three channels.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 11 AS w,
             1 + doc_id % 6 AS h,
             2 + doc_id % 15 AS p, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, w, h, p,
             unicode(text[CAST(t.j % L AS INTEGER) + 1]) % p AS idx
      FROM g, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(p AS BIGINT) AS palette_size,
           CAST(SUM((37 * idx + 11) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((59 * idx + 23) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((83 * idx + 5) % 256) AS BIGINT) AS sum_b
    FROM b GROUP BY doc_id, w, h, p
    """,
)
def m14(spark, sf):
    """PALETTE PNG modality (color type 3 — the most common real-corpus
    PNG residual after truecolor): each document rendered as a genuine
    indexed-color PNG (PLTE palette + Sub-filtered INDEX scanlines at
    the spec's bpp=1 — `operators/multimodal.py:encode_palette_png`),
    decoded back through the general pipeline (CRC chunk walk, inflate,
    all-five-filter reconstruction, PLTE lookup with range validation —
    `decode_png_palette`) for per-channel exact-integer pixel sums.
    Two Arrow-batched mapInPandas stages, no shuffle."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_palette_png,
        png_palette_stats,
    )

    return png_palette_stats(encode_text_palette_png(_t(spark, sf, "documents")))


@_q(
    "m17_gif_lzw",
    # ORACLE: m14's palette formula verbatim — GIF is lossless indexed
    # color, so the pixels equal the palette PNG's; only palette_size
    # differs (GIF pads the global color table to the next power of
    # two, a container fact the decoder truthfully reports).  Any LZW
    # bit-packing / code-width / KwKwK bug scrambles the index stream
    # and breaks all three channel sums.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 11 AS w,
             1 + doc_id % 6 AS h,
             2 + doc_id % 15 AS p, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, w, h, p,
             unicode(text[CAST(t.j % L AS INTEGER) + 1]) % p AS idx
      FROM g, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(CASE WHEN p <= 2 THEN 2 WHEN p <= 4 THEN 4
                     WHEN p <= 8 THEN 8 ELSE 16 END AS BIGINT) AS palette_size,
           CAST(SUM((37 * idx + 11) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((59 * idx + 23) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((83 * idx + 5) % 256) AS BIGINT) AS sum_b
    FROM b GROUP BY doc_id, w, h, p
    """,
)
def m17(spark, sf):
    """GIF87a with REAL LZW (the classic dictionary compressor — the
    one compression family the codec suite lacked after zlib/DCT):
    variable-width codes, CLEAR resets at 4096, the KwKwK corner, and
    the decoder-phantom-append width-growth tail corner all exercised;
    container walk skips 89a extension blocks.  Same pixel content as
    m14's palette PNG (deliberately — one oracle text, two containers,
    two compressors), padded color table reported truthfully.  Two
    Arrow-batched mapInPandas stages, no shuffle
    (`operators/multimodal.py:encode_gif/decode_gif/_lzw_*`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_gif,
        gif_stats,
    )

    return gif_stats(encode_text_gif(_t(spark, sf, "documents")))


@_q(
    "m18_animated_gif",
    # ORACLE: m17's pixel formula with a FRAME dimension — frame f's
    # pixel j indexes text byte (j+f) mod L, delay is the arithmetic
    # 4 + (id+f) mod 7 the encoder wrote into the graphic-control
    # extension: a frame-boundary bug, a delay-pairing bug (GCE
    # attaches to the NEXT image descriptor), or any LZW bug breaks
    # specific (doc, frame) rows.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 11 AS w,
             1 + doc_id % 6 AS h,
             2 + doc_id % 15 AS p,
             1 + doc_id % 4 AS nf, text
      FROM documents
    ),
    fr AS (
      SELECT doc_id, L, w, h, p, nf, text, CAST(t.f AS INTEGER) AS f
      FROM g, UNNEST(generate_series(0, CAST(nf AS BIGINT) - 1)) AS t(f)
    ),
    b AS (
      SELECT doc_id, f, nf, w, h, p,
             unicode(text[CAST((t.j + f) % L AS INTEGER) + 1]) % p AS idx
      FROM fr, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(j)
    )
    SELECT doc_id,
           f AS frame_idx,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(CASE WHEN p <= 2 THEN 2 WHEN p <= 4 THEN 4
                     WHEN p <= 8 THEN 8 ELSE 16 END AS BIGINT) AS palette_size,
           CAST(4 + (doc_id + f) % 7 AS INTEGER) AS delay_cs,
           CAST(SUM((37 * idx + 11) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((59 * idx + 23) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((83 * idx + 5) % 256) AS BIGINT) AS sum_b
    FROM b GROUP BY doc_id, f, nf, w, h, p
    """,
)
def m18(spark, sf):
    """ANIMATED GIF89a — the multi-frame sibling of m17's still GIF
    and the palette cousin of m08's MJPEG frame walk: per document
    1 + id mod 4 full-frame-replacement frames, each with its own
    graphic-control extension (delay 4 + (id+f) mod 7 cs) and its own
    REAL LZW stream, plus a NETSCAPE loop extension; the decoder walks
    every image descriptor to the trailer, pairing each frame with its
    preceding GCE delay.  One output row per frame, all-integer, two
    Arrow-batched mapInPandas stages, no shuffle
    (`operators/multimodal.py:encode_animated_gif/decode_animated_gif`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        animated_gif_frame_stats,
        encode_text_animated_gif,
    )

    return animated_gif_frame_stats(
        encode_text_animated_gif(_t(spark, sf, "documents"))
    )


@_q(
    "m20_gray16_png",
    # ORACLE: lossless 16-bit ⇒ every decoded sample equals
    # byte·257 exactly; n_high (> 255) is nonzero for every real text,
    # so a high/low byte swap, an 8-bit truncation, or a bpp=1 filter
    # reconstruction (left reference 1 byte back instead of 2) breaks
    # a predicted integer.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 11 AS w,
             1 + doc_id % 6 AS h, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, w, h,
             unicode(text[CAST(t.j % L AS INTEGER) + 1]) * 257 AS px
      FROM g, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(SUM(px) AS BIGINT) AS sum_px,
           CAST(MAX(px) AS BIGINT) AS max_px,
           CAST(COUNT(*) FILTER (px > 255) AS BIGINT) AS n_high
    FROM b GROUP BY doc_id, w, h
    """,
)
def m20(spark, sf):
    """16-BIT grayscale PNG (bit depth 16 — the scientific/medical
    imaging depth; the last gray-PNG residual): big-endian sample
    bytes Sub-filtered at bpp=2, decoded through the SAME general
    CRC-walk/inflate/all-five-filter byte machinery as the 8-bit path
    (the spec filters bytes, so only the bpp and the u16 assembly
    differ).  Pixels are byte·257 (the canonical 8→16 expansion), so
    the oracle predicts every sample and n_high pins that both bytes
    reached the output (`operators/multimodal.py:encode_gray16_png/
    decode_png_gray16`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_gray16_png,
        gray16_png_stats,
    )

    return gray16_png_stats(encode_text_gray16_png(_t(spark, sf, "documents")))


@_q(
    "m23_bmp32_alpha",
    # ORACLE: channel c of pixel i replays as text byte (4i+c) mod L —
    # all four channels are DISTINCT functions of the text, so a
    # BGRA-order mixup, an alpha drop, or a stride-4 row-padding bug
    # breaks a specific predicted sum; n_opaque pins exact alpha
    # values, not just their total.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 5 AS w,
             1 + doc_id % 7 AS h, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, w, h,
             unicode(text[CAST((4 * t.j + 0) % L AS INTEGER) + 1]) AS vb,
             unicode(text[CAST((4 * t.j + 1) % L AS INTEGER) + 1]) AS vg,
             unicode(text[CAST((4 * t.j + 2) % L AS INTEGER) + 1]) AS vr,
             unicode(text[CAST((4 * t.j + 3) % L AS INTEGER) + 1]) AS va
      FROM g, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(SUM(vb) AS BIGINT) AS sum_b,
           CAST(SUM(vg) AS BIGINT) AS sum_g,
           CAST(SUM(vr) AS BIGINT) AS sum_r,
           CAST(SUM(va) AS BIGINT) AS sum_a,
           CAST(COUNT(*) FILTER (va = 255) AS BIGINT) AS n_opaque
    FROM b GROUP BY doc_id, w, h
    """,
)
def m23(spark, sf):
    """32-bpp BGRA BMP — the alpha-carrying Windows format (mask
    extraction is the 4th-channel primitive): naturally-aligned
    stride-4 rows, bottom-up storage, `decode_bmp` now routing on the
    bpp field (24 → 3-channel, 32 → 4-channel; the 3-channel consumers
    guard explicitly).  All four channels are distinct text functions
    so every predicted sum pins a specific byte lane
    (`operators/multimodal.py:encode_bmp32/decode_bmp`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        bmp32_stats,
        encode_text_bmp32,
    )

    return bmp32_stats(encode_text_bmp32(_t(spark, sf, "documents")))


@_q(
    "m24_palette_trns_png",
    # ORACLE: m14's index/palette arithmetic verbatim plus the alpha
    # lane — tRNS covers a PREFIX of t = 1 + id mod p entries (alpha
    # of covered entry k = (101k+7) mod 256, uncovered = opaque 255).
    # A prefix-semantics bug (wrong opaque default, off-by-one on the
    # covered range) breaks sum_a while leaving RGB intact.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 11 AS w,
             1 + doc_id % 6 AS h,
             2 + doc_id % 15 AS p, text
      FROM documents
    ),
    g2 AS (SELECT *, 1 + doc_id % p AS t FROM g),
    b AS (
      SELECT doc_id, w, h, p, t,
             unicode(text[CAST(x.j % L AS INTEGER) + 1]) % p AS idx
      FROM g2, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS x(j)
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(p AS BIGINT) AS palette_size,
           CAST(t AS BIGINT) AS trns_size,
           CAST(SUM((37 * idx + 11) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((59 * idx + 23) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((83 * idx + 5) % 256) AS BIGINT) AS sum_b,
           CAST(SUM(CASE WHEN idx < t THEN (101 * idx + 7) % 256
                         ELSE 255 END) AS BIGINT) AS sum_a
    FROM b GROUP BY doc_id, w, h, p, t
    """,
)
def m24(spark, sf):
    """Indexed-color PNG WITH palette transparency (tRNS) — the most
    common real-corpus indexed-PNG residual, previously an honest
    guard: m14's container plus a tRNS chunk that covers a strict
    PREFIX of the palette, so the decode exercises both the
    table-driven alpha lookup and the spec's opaque-255 tail for
    uncovered entries.  Same CRC walk / inflate / Sub-filter pipeline;
    the alpha lane rides the same PLTE-index scanlines.  Two
    Arrow-batched mapInPandas stages, no shuffle
    (`operators/multimodal.py:encode_palette_png(trns=...)/
    decode_png_palette`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_palette_trns_png,
        png_palette_alpha_stats,
    )

    return png_palette_alpha_stats(
        encode_text_palette_trns_png(_t(spark, sf, "documents"))
    )


@_q(
    "m27_palette4_png",
    # ORACLE: m14's index/palette arithmetic verbatim (the fixture's
    # p ≤ 16 fits depth 4), plus the constant bit_depth the decoder
    # truthfully reports.  What changes is the WIRE FORMAT: scanlines
    # pack TWO indices per byte MSB-first with zero-padded row tails,
    # and the Sub filter runs over the packed bytes — a bit-order or
    # pad-leak bug scrambles indices and breaks every channel sum
    # while the container still parses.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 11 AS w,
             1 + doc_id % 6 AS h,
             2 + doc_id % 15 AS p, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, w, h, p,
             unicode(text[CAST(t.j % L AS INTEGER) + 1]) % p AS idx
      FROM g, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(4 AS BIGINT) AS bit_depth,
           CAST(p AS BIGINT) AS palette_size,
           CAST(SUM((37 * idx + 11) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((59 * idx + 23) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((83 * idx + 5) % 256) AS BIGINT) AS sum_b
    FROM b GROUP BY doc_id, w, h, p
    """,
)
def m27(spark, sf):
    """SUB-BYTE indexed PNG (bit depth 4 — the icon/sprite wire
    format; depths 1/2 share the same machinery): scanlines pack two
    palette indices per byte MSB-first with zero-padded row tails, the
    Sub filter runs over the PACKED bytes per spec, and the decoder
    unpacks after reconstruction.  Same pixels as m14 (one oracle,
    three palette wire formats: m14 depth-8, m24 +tRNS, m27 packed)
    (`operators/multimodal.py:encode_palette_png(depth)/
    decode_png_palette`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_palette_png,
        png_palette_depth_stats,
    )

    return png_palette_depth_stats(
        encode_text_palette_png(_t(spark, sf, "documents"), depth=4)
    )


@_q(
    "m25_local_palette_gif",
    # ORACLE: the LOCAL color-table formula — q = 2 + (3·id+1) mod 15
    # entries, entry k = ((41k+13), (67k+29), (89k+3)) mod 256, index
    # of pixel i = byte (i mod L) mod q — while the stream ALSO carries
    # m17's global table: a decoder resolving pixels through the wrong
    # table parses cleanly but produces the global formula's sums.
    # palette_size is the PADDED local size (GIF pads color tables to
    # the next power of two).
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 11 AS w,
             1 + doc_id % 6 AS h,
             2 + (3 * doc_id + 1) % 15 AS q, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, w, h, q,
             unicode(text[CAST(x.j % L AS INTEGER) + 1]) % q AS idx
      FROM g, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS x(j)
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(CASE WHEN q <= 2 THEN 2 WHEN q <= 4 THEN 4
                     WHEN q <= 8 THEN 8 ELSE 16 END AS BIGINT) AS palette_size,
           TRUE AS used_local,
           CAST(SUM((41 * idx + 13) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((67 * idx + 29) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((89 * idx + 3) % 256) AS BIGINT) AS sum_b
    FROM b GROUP BY doc_id, w, h, q
    """,
)
def m25(spark, sf):
    """GIF87a whose image carries a LOCAL color table overriding the
    global one — the most common real-corpus GIF residual after
    interlace, previously an honest guard: per spec the local table
    (its own size field, padded to a power of two, its own LZW min
    code size) resolves that image's pixels while the global table
    stays in the stream, so the entry pins the OVERRIDE itself, not
    just the parse.  Two Arrow-batched mapInPandas stages, no shuffle
    (`operators/multimodal.py:encode_gif(local_palette=...)/
    decode_gif`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_local_gif,
        gif_local_stats,
    )

    return gif_local_stats(encode_text_local_gif(_t(spark, sf, "documents")))


@_q(
    "m21_pgm_stats",
    # ORACLE: never sees the PGM bytes — recomputes the stride-3 cyclic
    # sample straight from the text (ASCII fixture: byte == code
    # point); exact integer sum/min/max per doc.
    """
    WITH g AS (
      SELECT doc_id, length(text) AS L,
             1 + length(text) % 7 AS w,
             1 + doc_id % 8 AS h, text
      FROM documents
    ),
    b AS (
      SELECT doc_id, w, h,
             unicode(text[CAST((3 * t.j) % L AS INTEGER) + 1]) AS px
      FROM g, UNNEST(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(SUM(px) AS BIGINT) AS sum_px,
           CAST(MIN(px) AS INTEGER) AS min_px,
           CAST(MAX(px) AS INTEGER) AS max_px
    FROM b GROUP BY doc_id, w, h
    """,
)
def m21(spark, sf):
    """Binary PGM (P5) — the grayscale netpbm member completing the
    family (P6 PPM m05): same ASCII header grammar (comments included),
    raw single-channel bytes, stride-3 cyclic sample distinct from the
    BMP (stride 1) and PPM (stride 2) fixtures so the three decoders
    can't share a bug.  Two Arrow-batched mapInPandas stages, no
    shuffle (`operators/multimodal.py:decode_pgm`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_pgm,
        pgm_stats,
    )

    return pgm_stats(encode_text_pgm(_t(spark, sf, "documents")))


@_q(
    "m19_float_wav",
    # ORACLE: never sees the float bytes — the waveform is the m06/m13
    # arithmetic ((byte−80)·256), which the encoder divides by 2^15
    # (exact in float32) and the decoder rescales losslessly, so
    # energy/peak are the SAME integers; format_tag 3 pins that the
    # IEEE-float fmt path, not the PCM path, produced them.
    """
    WITH x AS (
      SELECT doc_id,
             [(unicode(text[i]) - 80) * 256
              FOR i IN generate_series(1, length(text))] AS s
      FROM documents
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(3 AS INTEGER) AS format_tag,
           CAST(len(s) AS BIGINT) AS n_samples,
           CAST(list_sum([CAST(v * v AS BIGINT) FOR v IN s]) AS BIGINT)
             AS total_energy,
           CAST(COALESCE(list_max([abs(v) FOR v IN s]), 0) AS BIGINT) AS peak
    FROM x
    """,
)
def m19(spark, sf):
    """32-bit IEEE-FLOAT WAV (fmt tag 3 — the professional-audio
    format next to consumer PCM; closes the non-PCM residual the m13
    guard documented): samples are the PCM waveform normalized by
    2^15, a power-of-two scale so every float32 value is EXACT and the
    decoder reconstructs the integer waveform losslessly — float
    container, integer oracle.  Same general RIFF chunk walk, now
    routing on the fmt audio-format tag
    (`operators/multimodal.py:encode_float_wav/decode_wav`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_float_wav,
        float_wav_stats,
    )

    return float_wav_stats(encode_text_float_wav(_t(spark, sf, "documents")))


@_q(
    "m15_stereo_wav",
    # ORACLE: never sees the WAV bytes — left replays the m13 waveform
    # ((byte i − 80)·256), right replays (byte (2i mod L) − 80)·256;
    # per-channel integer energy and peak, so a channel interleave or
    # de-interleave mixup flips exactly one column pair.
    """
    WITH x AS (
      SELECT doc_id, length(text) AS L,
             [(unicode(text[i]) - 80) * 256
              FOR i IN generate_series(1, length(text))] AS sl,
             [(unicode(text[CAST((2 * (i - 1)) % length(text) AS INTEGER) + 1])
               - 80) * 256
              FOR i IN generate_series(1, length(text))] AS sr
      FROM documents
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(L AS BIGINT) AS n_frames,
           CAST(list_sum([CAST(v * v AS BIGINT) FOR v IN sl]) AS BIGINT)
             AS energy_l,
           CAST(list_sum([CAST(v * v AS BIGINT) FOR v IN sr]) AS BIGINT)
             AS energy_r,
           CAST(list_max([abs(v) FOR v IN sl]) AS BIGINT) AS peak_l,
           CAST(list_max([abs(v) FOR v IN sr]) AS BIGINT) AS peak_r
    FROM x
    """,
)
def m15(spark, sf):
    """STEREO WAV modality (the last WAV scope residual): per-document
    2-channel RIFF/WAVE with DIFFERENT waveforms per channel, written
    frame-interleaved (the spec's L R order) and decoded back through
    the general RIFF walk with de-interleaving — per-channel exact
    integer energy/peak.  Two Arrow-batched mapInPandas stages, no
    shuffle (`operators/multimodal.py:encode_wav/decode_wav`, now
    mono+stereo)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_stereo_wav,
        stereo_wav_stats,
    )

    return stereo_wav_stats(encode_text_stereo_wav(_t(spark, sf, "documents")))


@_q(
    "m33_quad_wav",
    # ORACLE: never sees the WAV bytes — channel c replays
    # (byte ((c+1)·i + c) mod L − 80)·256, four distinct stride
    # derivations; per-channel integer energy/peak ARRAYS in channel
    # order, so an interleave, de-interleave, or channel-order bug
    # breaks specific array positions.
    """
    WITH g AS (SELECT doc_id, text, length(text) AS L FROM documents),
    s AS (
      SELECT doc_id, L, c.c AS c,
             [(unicode(text[CAST(((c.c + 1) * (i - 1) + c.c) % L AS INTEGER) + 1])
               - 80) * 256
              FOR i IN generate_series(1, L)] AS smp
      FROM g, UNNEST(generate_series(0, 3)) AS c(c)
    ),
    agg AS (
      SELECT doc_id, L, c,
             CAST(list_sum([CAST(v AS BIGINT) * v FOR v IN smp]) AS BIGINT) AS e,
             CAST(list_max([abs(v) FOR v IN smp]) AS BIGINT) AS p
      FROM s
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(4 AS BIGINT) AS n_channels,
           CAST(MIN(L) AS BIGINT) AS n_frames,
           array_to_string(list(e ORDER BY c), ',') AS energies,
           array_to_string(list(p ORDER BY c), ',') AS peaks
    FROM agg GROUP BY doc_id
    """,
)
def m33(spark, sf):
    """MULTI-CHANNEL WAV (4-channel quad — retiring the mono/stereo
    channel guard: `decode_wav` now de-interleaves ANY channel count,
    the 5.1/7.1 layouts real audio corpora carry): per-document
    4-channel RIFF/WAVE with a DIFFERENT stride waveform per channel,
    frames interleaved per spec, decoded to per-channel integer
    energy/peak ARRAYS.  Two Arrow-batched mapInPandas stages, no
    shuffle (`operators/multimodal.py:encode_text_quad_wav/
    multichannel_wav_stats`)."""
    from duckdb_graphar_spark.operators.multimodal import (
        encode_text_quad_wav,
        multichannel_wav_stats,
    )

    st = multichannel_wav_stats(encode_text_quad_wav(_t(spark, sf, "documents")))
    as_str = lambda c: F.array_join(  # noqa: E731 — driver hash canon
        F.transform(F.col(c), lambda v: v.cast("string")), ","
    ).alias(c)
    return st.select(
        "doc_id", "sample_rate", "n_channels", "n_frames",
        as_str("energies"), as_str("peaks"),
    )


@_q(
    "q67_delta_agg_maintenance",
    # ORACLE: state-equivalence, not mechanism replay — base is the
    # aggregate over orderkey%10<8, the delta inserts the %10=8 rows
    # and deletes the %10=7 rows, so the maintained view must equal the
    # direct aggregate over %10 IN {0..6, 8}.  Exact fixed-point sums
    # make insert/delete cancellation bit-exact.
    """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0, 6) AS sum_price
    FROM orders
    WHERE o_orderkey % 10 <= 6 OR o_orderkey % 10 = 8
    GROUP BY 1
    """,
)
def q67(spark, sf):
    """Incremental materialized-view maintenance: a pre-aggregated
    per-priority (n, Σprice) base refreshed by a CDC delta batch
    (inserts + deletes) WITHOUT rescanning the fact table — O(delta)
    refresh, exact signed fixed-point arithmetic, keys dropping to
    zero removed (`operators/cdc.py:maintain_agg`)."""
    from duckdb_graphar_spark.operators.cdc import maintain_agg

    o = _t(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    mod = F.col("o_orderkey") % 10
    base = (
        o.filter(mod < 8)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sum_scaled"))
    )
    changes = (
        o.filter(mod == 8).select("o_orderpriority", "x", F.lit("insert").alias("op"))
    ).unionAll(
        o.filter(mod == 7).select("o_orderpriority", "x", F.lit("delete").alias("op"))
    )
    out = maintain_agg(base, changes, ["o_orderpriority"])
    return out.select(
        "o_orderpriority",
        "n",
        F.round(F.col("sum_scaled").cast("double") / F.lit(100.0), 6).alias(
            "sum_price"
        ),
    )




def _mrl_dist_cte(d: int) -> str:
    return f"""dist{d} AS (
      SELECT e.vec_id,
             list_sum([CAST((CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
                            * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
                            AS DECIMAL(38,18))
                       FOR i IN generate_series(1, {d})]) AS d2
      FROM embeddings e CROSS JOIN q),
    top{d} AS (SELECT vec_id FROM dist{d} ORDER BY d2, vec_id LIMIT 10)"""


def _mrl_row(d: int) -> str:
    ov = f"(SELECT COUNT(*) FROM top{d} JOIN top64 USING (vec_id))"
    return (
        f"SELECT CAST({d} AS BIGINT) AS prefix_dim,"
        f" CAST({ov} AS BIGINT) AS n_overlap,"
        f" ROUND(CAST({ov} AS DOUBLE) / 10, 6) AS recall"
    )


@_q(
    "s13_matryoshka_recall",
    # ORACLE: four decimal-exact top-10 searches (prefix slices of the
    # same scan) + overlap counts against the full-dim set.
    "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),\n"
    + ",\n".join(_mrl_dist_cte(d) for d in (8, 16, 32, 64))
    + "\n"
    + "\nUNION ALL ".join(_mrl_row(d) for d in (8, 16, 32)),
)
def s13(spark, sf):
    """Matryoshka-representation QA (Kusupati et al. 2022): recall of
    truncated-embedding exact top-10 vs the full 64-dim top-10, per
    prefix dim — the measurement deciding how far MRL embeddings
    truncate before retrieval pays.  Each search is the decimal-argmin
    discipline over sliced vectors with a TakeOrdered(10) cut; driver
    state is 4·k candidate ids (`operators/embeddings.py:
    matryoshka_recall`)."""
    from duckdb_graphar_spark.operators.embeddings import matryoshka_recall

    e = _t(spark, sf, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return matryoshka_recall(e, q, k=10, prefix_dims=(8, 16, 32))


@_q(
    "q70_funnel_duration_quantiles",
    # ORACLE: q58's staged-min funnel restricted to full converters,
    # exact microsecond durations, then an explicit row_number rank
    # selection at floor((n−1)·p)+1 — percentile_disc semantics spelled
    # out, because DuckDB's quantile_disc uses the cume_dist convention
    # (ceil(n·p)) which diverges at small n (n=15, p=0.9: rank 14 vs
    # this operator's pinned rank 13).
    """
    WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
    d AS (SELECT CAST(epoch_us(s3.t3) - epoch_us(s1.t1) AS BIGINT) AS dur
          FROM s3 JOIN s1 USING (user_id)),
    o AS (SELECT dur, row_number() OVER (ORDER BY dur) AS rn FROM d),
    nn AS (SELECT COUNT(*) AS n FROM d)
    """
    + " UNION ALL ".join(
        f"""
        SELECT CAST({p} AS DOUBLE) AS prob,
               (SELECT CAST(dur AS DOUBLE) FROM o, nn
                WHERE rn = CAST(FLOOR((n - 1) * {p}) AS BIGINT) + 1) AS value,
               (SELECT CAST(FLOOR((n - 1) * {p}) AS BIGINT) + 1 FROM nn) AS target_rank,
               (SELECT n FROM nn) AS n
        """
        for p in (0.25, 0.5, 0.9)
    ),
)
def q70(spark, sf):
    """Composition entry: time-to-convert percentiles — q58's funnel
    (full converters only), exact integer microsecond durations from
    first 'view' to the purchase that completed the funnel, fed into
    q60's exact distributed quantiles (`operators/events.py:funnel` →
    `operators/quantiles.py:exact_quantiles`)."""
    from duckdb_graphar_spark.operators.events import funnel
    from duckdb_graphar_spark.operators.quantiles import exact_quantiles

    ev = _t(spark, sf, "events")
    f = funnel(ev, ["view", "click", "purchase"]).filter(
        F.col("stages_completed") == 3
    )
    starts = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t1"))
    )
    # ntz → ltz cast for unix_micros (session TZ is UTC, so the epoch
    # matches DuckDB's epoch_us over the naive-UTC timestamps)
    durs = f.join(starts, "user_id").select(
        (
            F.unix_micros(F.col("completed_at").cast("timestamp"))
            - F.unix_micros(F.col("__t1").cast("timestamp"))
        ).alias("dur")
    )
    return exact_quantiles(durs, "dur", [0.25, 0.5, 0.9])


@_q(
    "q71_session_paths",
    # ORACLE: st03's gaps-and-islands sessionization with (ts,
    # event_id) ordering and exact microsecond gaps, ordered list
    # prefix per session, map-combinable path counts.
    """
    WITH o AS (SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                      THEN 1 ELSE 0 END AS ns
               FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid FROM o),
    p AS (SELECT array_to_string(list(event_type ORDER BY ts, event_id)[1:3], '>') AS path
          FROM s GROUP BY user_id, sid)
    SELECT path, COUNT(*) AS n_sessions
    FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def q71(spark, sf):
    """User-journey analysis: top-20 session path prefixes (first 3
    event types per gap-based session) — one user-keyed shuffle,
    row-local ordered prefix, map-combinable counts
    (`operators/events.py:session_paths`)."""
    from duckdb_graphar_spark.operators.events import session_paths

    return session_paths(_t(spark, sf, "events"))


@_q(
    "t34_sentence_dedup",
    # ORACLE: same portable sentence split (no lookbehind — RE2-safe),
    # list_distinct counts; dup_frac published UNROUNDED (identical
    # doubles by construction — the q68 boundary lesson).
    r"""
    SELECT doc_id,
           CAST(len(l2) AS BIGINT) AS n_sentences,
           CAST(len(list_distinct(l2)) AS BIGINT) AS n_distinct,
           CASE WHEN len(l2) > 0
                THEN 1.0 - CAST(len(list_distinct(l2)) AS DOUBLE)
                           / CAST(len(l2) AS DOUBLE)
                ELSE 0.0 END AS dup_frac
    FROM (SELECT doc_id,
                 [x FOR x IN regexp_split_to_array(text, '\.\s+')
                  IF trim(x) <> ''] AS l2
          FROM documents)
    """,
)
def t34(spark, sf):
    """Intra-document boilerplate: repeated-sentence mass per document
    (row-local split + array_distinct, zero shuffles —
    `operators/text.py:sentence_dedup_stats`)."""
    from duckdb_graphar_spark.operators.text import sentence_dedup_stats

    return sentence_dedup_stats(_t(spark, sf, "documents"))


@_q(
    "st12_stream_hll_distinct",
    # ORACLE: q63's tolerance pattern in streaming form — exact
    # per-(hour, type) distinct users plus the in-band flag the
    # streaming sketch estimate must clear.
    """
    SELECT CAST(to_timestamp(b * 3600) AS TIMESTAMP) AS window_start,
           CAST(to_timestamp(b * 3600 + 3600) AS TIMESTAMP) AS window_end,
           event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_tolerance
    FROM (SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS b, event_type, user_id
          FROM events)
    GROUP BY 1, 2, 3
    """,
)
def st12(spark, sf):
    """Streaming approximate distinct: per-(hour, event_type) HLL
    sketches built INSIDE a running stream (O(kb) state per group —
    exact streaming distinct would hold every id in the state store),
    estimates asserted within 5% of a batch-exact twin
    (`streaming/ops.py:windowed_hll_distinct`)."""
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        windowed_hll_distinct,
    )

    stream = read_events_stream(spark, f"{sf}/events.parquet")
    approx = run_to_memory(windowed_hll_distinct(stream), "st12_out")
    exact = (
        _t(spark, sf, "events")
        .groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"), "event_type"
        )
        .agg(F.count_distinct("user_id").alias("exact_users"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "exact_users",
        )
    )
    return approx.join(exact, ["window_start", "window_end", "event_type"]).select(
        "window_start",
        "window_end",
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        ).alias("within_tolerance"),
    )


@_q(
    "g21_bipartiteness",
    # ORACLE: the same double-cover reduction over recursive-CTE
    # reachability (g11's recipe twice: base graph + double cover) —
    # component bipartite iff no vertex's two cover copies share a
    # double-cover component.
    f"""
    WITH RECURSIVE e AS ({_E_SQL}),
    sym AS (SELECT src AS u, dst AS w FROM e UNION SELECT dst, src FROM e),
    verts AS (SELECT DISTINCT u AS v FROM sym),
    r(v, w) AS (SELECT v, v FROM verts
                UNION SELECT r.v, s.w FROM r JOIN sym s ON s.u = r.w),
    base AS (SELECT v, MIN(w) AS component FROM r GROUP BY v),
    dc AS (SELECT u * 2 AS u, w * 2 + 1 AS w FROM sym
           UNION SELECT u * 2 + 1, w * 2 FROM sym),
    dverts AS (SELECT v * 2 AS v FROM verts UNION SELECT v * 2 + 1 FROM verts),
    r2(v, w) AS (SELECT v, v FROM dverts
                 UNION SELECT r2.v, s.w FROM r2 JOIN dc s ON s.u = r2.w),
    dcomp AS (SELECT v, MIN(w) AS c FROM r2 GROUP BY v),
    fused AS (SELECT CAST(v // 2 AS BIGINT) AS v,
                     COUNT(DISTINCT c) = 1 AS fz FROM dcomp GROUP BY 1)
    SELECT component, COUNT(*) AS n_vertices,
           NOT MAX(fz) AS is_bipartite
    FROM base JOIN fused USING (v) GROUP BY component
    """,
)
def g21(spark, sf):
    """Exact per-component bipartiteness by the double-cover reduction
    — odd-cycle detection as two runs of connected components (each v
    splits into v0/v1, edges cross copies; a component is bipartite iff
    its cover splits in two), no coloring state or backtracking
    (`operators/graph.py:bipartiteness`)."""
    from duckdb_graphar_spark.operators.graph import bipartiteness

    return bipartiteness(_edges(spark, sf), src_col="src", dst_col="dst")


@_q(
    "t33_pmi_collocations",
    # ORACLE: identical integer counts; the ln argument is assembled
    # with the same cast/multiply order so both engines take ln of the
    # identical double (F.log == Math.log vs DuckDB ln agreed post-
    # round-6 on the q49 precedent); (w1, w2) breaks rounded-PMI ties.
    """
    WITH l AS (SELECT string_split(text, ' ') AS l FROM documents),
    bg AS (SELECT l[i] || ' ' || l[i+1] AS g
           FROM l, UNNEST(generate_series(1, len(l) - 1)) AS t(i)),
    big AS (SELECT g, COUNT(*) AS cab FROM bg GROUP BY g),
    uni AS (SELECT w, COUNT(*) AS c FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            WHERE w <> '' GROUP BY w),
    tot AS (SELECT (SELECT SUM(c) FROM uni) AS n, (SELECT SUM(cab) FROM big) AS b)
    SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
           CAST(cab AS BIGINT) AS n_pair,
           ROUND(ln((CAST(cab AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                    / (CAST(b AS DOUBLE) * CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))),
                 6) AS pmi
    FROM big
    JOIN uni ca ON ca.w = split_part(g, ' ', 1)
    JOIN uni cb ON cb.w = split_part(g, ' ', 2)
    CROSS JOIN tot
    WHERE cab >= 3
    ORDER BY pmi DESC, w1, w2 LIMIT 50
    """,
)
def t33(spark, sf):
    """Collocations by PMI (Church & Hanks 1990): exact integer bigram
    and unigram counts, one mirrored ln expression, top-50 with
    deterministic tie-break (`operators/text.py:pmi_collocations`)."""
    from duckdb_graphar_spark.operators.text import pmi_collocations

    return pmi_collocations(_t(spark, sf, "documents"))


@_q(
    "q68_gapfill_interpolate",
    # ORACLE: identical dense grid + IGNORE NULLS neighbor windows +
    # the same mirrored interpolation expression over ROUND-6 actual
    # endpoints (endpoint rounding makes interp independent of
    # accumulation order on both engines).
    """
    WITH a AS (
      SELECT user_id % 20 AS k, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS b,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(26,8))) AS DOUBLE), 6) AS v
      FROM events GROUP BY 1, 2),
    grid AS (
      SELECT k, unnest(generate_series(mn, mx)) AS b
      FROM (SELECT k, MIN(b) AS mn, MAX(b) AS mx FROM a GROUP BY k)),
    g AS (SELECT grid.k, grid.b, a.v FROM grid LEFT JOIN a USING (k, b)),
    w AS (
      SELECT k, b, v,
        last_value(v IGNORE NULLS) OVER
          (PARTITION BY k ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER
          (PARTITION BY k ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ph,
        first_value(v IGNORE NULLS) OVER
          (PARTITION BY k ORDER BY b ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER
          (PARTITION BY k ORDER BY b ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nh
      FROM g)
    SELECT k AS series_key, CAST(to_timestamp(b * 3600) AS TIMESTAMP) AS bucket_start,
           CASE WHEN v IS NOT NULL THEN 'actual' ELSE 'interp' END AS kind,
           COALESCE(v, pv + (nv - pv)
                       * (CAST(b - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))) AS value
    FROM w
    """,
)
def q68(spark, sf):
    """Hypertable gap filling with linear interpolation (TimescaleDB's
    time_bucket_gapfill + interpolate): dense per-series hourly grid
    between first and last actual bucket, gaps interpolated between
    the published neighboring actuals
    (`operators/asof.py:gap_fill_interpolate`)."""
    from duckdb_graphar_spark.operators.asof import gap_fill_interpolate

    ev = _t(spark, sf, "events").select(
        (F.col("user_id") % 20).alias("series_key"), "ts", "value"
    )
    return gap_fill_interpolate(ev, key_col="series_key")


@_q(
    "g19_assortativity",
    # ORACLE: q65's exact-moment-sum recipe over both orientations of
    # every canonical edge; scale 1 (degrees are integers already).
    f"""
    WITH e0 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM ({_E_SQL}) WHERE src <> dst),
    deg AS (SELECT v, COUNT(*) AS d FROM (
             SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
    pairs AS (SELECT a AS u, b AS w FROM e0 UNION ALL SELECT b, a FROM e0),
    s AS (SELECT CAST(du.d AS BIGINT) AS x, CAST(dw.d AS BIGINT) AS y
          FROM pairs JOIN deg du ON du.v = pairs.u JOIN deg dw ON dw.v = pairs.w),
    g AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
                 SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
                 SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
          FROM s)
    SELECT n,
           ROUND(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                 THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 END, 6) AS corr
    FROM g
    """,
)
def g19(spark, sf):
    """Degree assortativity (Newman 2002): Pearson correlation of
    endpoint degrees over both orientations of the canonical edge set,
    via `stats.exact_corr`'s bit-reproducible moment sums
    (`operators/graph.py:degree_assortativity`)."""
    from duckdb_graphar_spark.operators.graph import degree_assortativity

    return degree_assortativity(_edges(spark, sf), src_col="src", dst_col="dst")


@_q(
    "g20_link_prediction",
    # ORACLE: identical wedge enumeration (u < w orientation), edge
    # anti-join, degree-stamped Jaccard; (u, w) is unique so the top-50
    # cut is deterministic.
    f"""
    WITH e0 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM ({_E_SQL}) WHERE src <> dst),
    nb AS (SELECT a AS c, b AS n FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT n AS v, COUNT(*) AS d FROM nb GROUP BY 1),
    cn AS (SELECT l.n AS u, r.n AS w, COUNT(*) AS n_common
           FROM nb l JOIN nb r ON l.c = r.c AND l.n < r.n GROUP BY 1, 2),
    ne AS (SELECT cn.u, cn.w, cn.n_common FROM cn
           ANTI JOIN e0 ON cn.u = e0.a AND cn.w = e0.b)
    SELECT u, w, CAST(n_common AS BIGINT) AS n_common,
           ROUND(CAST(n_common AS DOUBLE)
                 / CAST(du.d + dw.d - n_common AS DOUBLE), 6) AS jaccard
    FROM ne JOIN deg du ON du.v = ne.u JOIN deg dw ON dw.v = ne.w
    ORDER BY n_common DESC, u, w LIMIT 50
    """,
)
def g20(spark, sf):
    """Common-neighbor link prediction: top-50 non-adjacent pairs by
    shared-neighbor count with Jaccard scores — wedge join bounded by
    u<w orientation AND the ENGAGED hub cap (`max_center_degree=1000`):
    the per-center wedge OUTPUT is inherently Σdeg(c)², so on power-law
    graphs centers above the cap are dropped (the standard
    accuracy/cost dial — a celebrity's wedge candidates score badly
    anyway).  The fixture graphs' max degree is ~35 at every SF
    (closed-world replication preserves it), so the declared entry
    stays oracle-EXACT while the same code path is hub-safe at 100 TB
    (`operators/graph.py:common_neighbor_candidates`)."""
    from duckdb_graphar_spark.operators.graph import common_neighbor_candidates

    return common_neighbor_candidates(
        _edges(spark, sf),
        k=50,
        max_center_degree=1000,
        src_col="src",
        dst_col="dst",
    )


@_q(
    "t32_feature_hashing",
    # ORACLE: the identical portable polynomial hash — list_reduce over
    # codepoints with a prepended 0 accumulator (DuckDB's reduce seeds
    # from the first element; prepending 0 replays Spark's fold-from-0
    # exactly), same bucket/sign split, same signed-count aggregation.
    r"""
    WITH tok AS (SELECT doc_id, w, COUNT(*) AS c FROM (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
      WHERE w <> '' GROUP BY doc_id, w),
    hh AS (SELECT doc_id, c,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 [CAST(unicode(w[i]) AS BIGINT)
                  FOR i IN generate_series(1, length(w))]),
               (acc, x) -> (acc * 31 + x) % 1000003) AS h
           FROM tok),
    sb AS (SELECT doc_id, h % 16 AS bucket,
                  CASE WHEN ((h - h % 16) // 16) % 2 = 0 THEN 1 ELSE -1 END * c AS v
           FROM hh)
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(SUM(v) AS BIGINT) AS value
    FROM sb GROUP BY 1, 2 HAVING SUM(v) <> 0
    """,
)
def t32(spark, sf):
    """The hashing trick (Weinberger et al. 2009): vocabulary-free
    fixed-dim signed bag-of-words features, sparse (doc, bucket, value)
    output — explode, map-combinable token counts, row-local portable
    hash, one (doc, bucket) groupBy; vocabulary size never appears
    (`operators/text.py:feature_hash_vectors`)."""
    from duckdb_graphar_spark.operators.text import feature_hash_vectors

    return feature_hash_vectors(_t(spark, sf, "documents"), dim=16)


@_q(
    "g18_clustering_coeff",
    # ORACLE: the same oriented a<b<c triangle enumeration + corner
    # explode; integer counts throughout, one mirrored double division.
    f"""
    WITH e0 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM ({_E_SQL}) WHERE src <> dst),
    deg AS (SELECT v, COUNT(*) AS degree FROM (
             SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
    tri AS (SELECT e1.a, e1.b, e2.b AS c
            FROM e0 e1 JOIN e0 e2 ON e2.a = e1.b
            JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b),
    tv AS (SELECT v, COUNT(*) AS t FROM (
            SELECT unnest([a, b, c]) AS v FROM tri) GROUP BY v)
    SELECT deg.v AS id, CAST(degree AS BIGINT) AS degree,
           CAST(COALESCE(t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN degree >= 2
                THEN ROUND((2.0 * CAST(COALESCE(t, 0) AS DOUBLE))
                           / (CAST(degree AS DOUBLE)
                              * (CAST(degree AS DOUBLE) - 1.0)), 6)
                ELSE 0.0 END AS coeff
    FROM deg LEFT JOIN tv ON tv.v = deg.v
    """,
)
def g18(spark, sf):
    """Per-vertex local clustering coefficient — g10's oriented
    triangle enumeration fanned out to corners, integer counts, one
    double division (`operators/graph.py:clustering_coefficient`)."""
    from duckdb_graphar_spark.operators.graph import clustering_coefficient

    return clustering_coefficient(_edges(spark, sf), src_col="src", dst_col="dst")




def _bootstrap_sql(n_replicates: int = 20, tail_rank: int = 2) -> str:
    """q66's oracle: the identical md5-thresholded Poisson(1) weights,
    fixed-point weighted sums, and rank-picked replicate means,
    unrolled over n_replicates columns."""
    from duckdb_graphar_spark.operators.stats import POISSON1_THRESHOLDS

    def w_case(b: int) -> str:
        pre = (
            f"substr(md5('bs{b}' || chr(31) || CAST(l_orderkey AS VARCHAR)"
            f" || chr(31) || CAST(l_linenumber AS VARCHAR)), 1, 8)"
        )
        whens = " ".join(
            f"WHEN {pre} < '{t}' THEN {k}"
            for k, t in enumerate(POISSON1_THRESHOLDS)
        )
        return f"(CASE {whens} ELSE {len(POISSON1_THRESHOLDS)} END)"

    rep_aggs = ",\n".join(
        f"SUM({w_case(b)}) AS sw{b},"
        f" SUM(CAST({w_case(b)} * x AS DECIMAL(38,0))) AS swx{b}"
        for b in range(n_replicates)
    )
    means = ", ".join(
        f"CASE WHEN sw{b} > 0 THEN"
        f" (CAST(swx{b} AS DOUBLE) / CAST(sw{b} AS DOUBLE)) / 10000.0 END"
        for b in range(n_replicates)
    )
    return f"""
    WITH s AS (
      SELECT l_returnflag, l_orderkey, l_linenumber,
             CAST(ROUND(l_discount * 10000) AS BIGINT) AS x
      FROM lineitem),
    g AS (SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS sx,
                 {rep_aggs}
          FROM s GROUP BY 1),
    m AS (SELECT l_returnflag, n, sx,
                 list_sort([m FOR m IN [{means}] IF m IS NOT NULL]) AS ms
          FROM g)
    SELECT l_returnflag, n,
           ROUND((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 10000.0, 6) AS est_mean,
           ROUND(ms[{tail_rank}], 6) AS ci_lo,
           ROUND(ms[-{tail_rank}], 6) AS ci_hi
    FROM m
    """


@_q("q66_bootstrap_ci", _bootstrap_sql())
def q66(spark, sf):
    """Deterministic Poisson-bootstrap CI for mean discount per return
    flag (Chamandy et al. online bootstrap): content-addressed md5
    replicate weights, ONE map-combinable groupBy carrying 2B+2 exact
    fixed-point partials, replicate sort/rank row-local — no B-times
    data explosion, no rand(), bit-reproducible
    (`operators/stats.py:bootstrap_mean_ci`)."""
    from duckdb_graphar_spark.operators.stats import bootstrap_mean_ci

    return bootstrap_mean_ci(
        _t(spark, sf, "lineitem"),
        "l_discount",
        ["l_returnflag"],
        ["l_orderkey", "l_linenumber"],
    )


@_q(
    "d07_near_dup_clusters",
    # ORACLE: the pair graph is s20's exact all-pairs shingle Jaccard
    # (the prefix filter is provably lossless, so both engines see the
    # SAME edges), then a recursive-CTE transitive closure assigns
    # min-reachable-id representatives — closure size is Σ|component|²
    # over near-dup clusters, tiny by construction.
    """
    WITH RECURSIVE tok AS (
      SELECT DISTINCT doc_id, substring(text, CAST(i AS INTEGER), 8) AS tok
      FROM documents, UNNEST(generate_series(1, length(text) - 7)) AS t(i)
      WHERE length(text) >= 8),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT da AS a, db AS b FROM inter
              JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
              WHERE i * 100 >= 95 * (sa.n + sb.n - i)),
    und AS (SELECT a, b FROM pairs
            UNION SELECT b, a FROM pairs
            UNION SELECT a, a FROM pairs
            UNION SELECT b, b FROM pairs),
    reach(v, r) AS (
      SELECT DISTINCT a AS v, a AS r FROM und
      UNION
      SELECT und.b, reach.r FROM reach JOIN und ON und.a = reach.v
    ),
    rep AS (SELECT v AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY v)
    SELECT doc_id, cluster_rep,
           CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT)
               AS cluster_size,
           doc_id = cluster_rep AS is_canonical
    FROM rep
    """,
)
def d07(spark, sf):
    """END-TO-END near-dup clustering — the pipeline users actually run
    ('dedup my corpus'): s20's lossless prefix-filtered shingle-Jaccard
    pairs (τ = 0.95) → distributed min-label connected components →
    min-id canonical representative per cluster, with cluster sizes
    and the keep/drop flag.  Composes three verified operators; the
    oracle recomputes the SAME pair graph unpruned and closes it with
    a recursive CTE (`operators/dedup.py:jaccard_similarity_join,
    connected_components`)."""
    from duckdb_graphar_spark.operators.dedup import (
        connected_components,
        jaccard_similarity_join,
    )

    # pin the pair pipeline: CC's fast-path probe, the vertex set, and
    # the final join would otherwise each re-execute the shingle join
    # (measured 14.5 s -> re-run once at ~6 s after the checkpoint)
    pairs = (
        jaccard_similarity_join(
            _t(spark, sf, "documents"),
            threshold_num=95,
            threshold_den=100,
            shingle_len=8,
        )
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        .localCheckpoint(eager=True)
    )
    verts = (
        pairs.select(F.col("id_a").alias("v"))
        .unionAll(pairs.select(F.col("id_b").alias("v")))
        .distinct()
    )
    # cluster_size via groupBy + join, NOT an unordered count window: a
    # count window over PARTITION BY label buffers the whole partition,
    # and at 100 TB one giant boilerplate cluster = one buffered
    # partition (the q90 discipline, events.py).  groupBy is map-side
    # combinable; the sizes side is one row per component, so AQE
    # broadcasts it.  Lazy localCheckpoint so cc computes once for
    # both consumers.
    cc = connected_components(pairs, verts).localCheckpoint(eager=False)
    sizes = cc.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return cc.join(sizes, "label").select(
        F.col("v").alias("doc_id"),
        F.col("label").alias("cluster_rep"),
        F.col("cluster_size"),
        (F.col("v") == F.col("label")).alias("is_canonical"),
    )


@_q(
    "d08_cluster_split",
    # ORACLE: d07's recursive closure extended to the whole corpus
    # (unpaired docs are their own representative), then the SAME md5
    # integer arithmetic picks the side — split constancy within a
    # cluster is structural, and a doc assigned by its own id instead
    # of its rep lands in the wrong bucket and breaks the match.
    """
    WITH RECURSIVE tok AS (
      SELECT DISTINCT doc_id, substring(text, CAST(i AS INTEGER), 8) AS tok
      FROM documents, UNNEST(generate_series(1, length(text) - 7)) AS t(i)
      WHERE length(text) >= 8),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT da AS a, db AS b FROM inter
              JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
              WHERE i * 100 >= 95 * (sa.n + sb.n - i)),
    und AS (SELECT a, b FROM pairs
            UNION SELECT b, a FROM pairs
            UNION SELECT a, a FROM pairs
            UNION SELECT b, b FROM pairs),
    reach(v, r) AS (
      SELECT DISTINCT a AS v, a AS r FROM und
      UNION
      SELECT und.b, reach.r FROM reach JOIN und ON und.a = reach.v
    ),
    rep AS (SELECT v AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY v),
    allrep AS (
      SELECT d.doc_id, COALESCE(rep.cluster_rep, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN rep ON rep.doc_id = d.doc_id)
    SELECT doc_id, cluster_rep,
           CASE WHEN CAST(concat('0x', substr(md5('split0' || chr(31) ||
                     CAST(cluster_rep AS VARCHAR)), 1, 13)) AS UBIGINT)
                     % 100 < 80
                THEN 'train' ELSE 'test' END AS split
    FROM allrep
    """,
)
def d08(spark, sf):
    """LEAKAGE-FREE train/test split — the capstone the dedup pipeline
    exists for: a hash split by doc id (t17) leaks whenever
    near-duplicates straddle the boundary, so the split key must be
    the near-dup CLUSTER representative (s20 pairs → connected
    components, min-id rep, own id when unpaired); the side is
    md5(seed ‖ rep) mod 100 — content-addressed, SQL-replayable, and
    constant within a cluster BY CONSTRUCTION.  The corpus is never
    shuffled by content: components over the tiny pair graph + one
    left join back (`operators/dedup.py:cluster_split`)."""
    from duckdb_graphar_spark.operators.dedup import (
        cluster_split,
        jaccard_similarity_join,
    )

    docs = _t(spark, sf, "documents")
    pairs = (
        jaccard_similarity_join(
            docs, threshold_num=95, threshold_den=100, shingle_len=8
        )
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        .localCheckpoint(eager=True)
    )
    return cluster_split(docs, pairs, train_pct=80)


@_q(
    "d06_fuzzy_word_pairs",
    # ORACLE: the identical blocking join + exact levenshtein filter
    # (both engines implement the classic integer DP, so distances are
    # equal by construction).  The fixture vocabulary is typo-free, so
    # docs with id % 7 == 0 are augmented with a deterministic typo of
    # their first word (last char doubled) — the t22 augmentation
    # pattern, replicated verbatim on both sides, guaranteeing the
    # entry exercises real matches instead of passing on empty output.
    r"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' ' || split_part(text, ' ', 1)
                       || substr(split_part(text, ' ', 1),
                                 length(split_part(text, ' ', 1)), 1)
                  ELSE text END AS text
      FROM documents
    ),
    w AS (SELECT w, COUNT(*) AS c FROM (
        SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM aug)
      WHERE w <> '' AND length(w) >= 3 GROUP BY w)
    SELECT a.w AS w1, b.w AS w2,
           CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist,
           CAST(a.c AS BIGINT) AS c1, CAST(b.c AS BIGINT) AS c2
    FROM w a JOIN w b
      ON substr(a.w, 1, 1) = substr(b.w, 1, 1)
     AND length(b.w) BETWEEN length(a.w) - 1 AND length(a.w) + 1
     AND a.w < b.w
    WHERE levenshtein(a.w, b.w) <= 1
    """,
)
def d06(spark, sf):
    """Typo-pair mining: vocabulary self-join blocked on (first char,
    length band) with the exact Levenshtein filter only on candidates —
    never all-pairs (`operators/dedup.py:fuzzy_word_pairs`).  Docs with
    id % 7 == 0 get a deterministic last-char-doubled typo of their
    first word appended, so the declared entry produces real pairs."""
    from duckdb_graphar_spark.operators.dedup import fuzzy_word_pairs

    d = _t(spark, sf, "documents")
    first = F.split(F.col("text"), " ")[0]
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"), F.lit(" "), first,
                F.substring(first, -1, 1),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return fuzzy_word_pairs(aug)


@_q(
    "q65_exact_corr",
    # ORACLE: identical fixed-point moment sums (exact integers —
    # order-independent, unlike corr()'s streaming float accumulation)
    # and the IDENTICAL one-double-expression finish, so the value is
    # bit-equal across engines.
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    g AS (SELECT l_returnflag, COUNT(*) AS n,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
                 SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
                 SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
          FROM s GROUP BY 1)
    SELECT l_returnflag, n,
           ROUND(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                 THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 END, 6) AS corr
    FROM g
    """,
)
def q65(spark, sf):
    """Engine-exact Pearson correlation of quantity vs extended price
    per return flag: fixed-point moment sums + one double finish —
    bit-reproducible across engines/partitionings/retries, which the
    built-in streaming `corr()` is not
    (`operators/stats.py:exact_corr`)."""
    from duckdb_graphar_spark.operators.stats import exact_corr

    return exact_corr(
        _t(spark, sf, "lineitem"),
        "l_quantity",
        "l_extendedprice",
        ["l_returnflag"],
    )


@_q(
    "ga15_property_group_projection",
    # ORACLE: the two projected columns straight from the source table
    # — the written graph's other property group (comment-ish long
    # text) must never be touched to produce this.
    """
    SELECT CAST(n_nationkey AS BIGINT) AS _graphArVertexIndex,
           n_name AS name, CAST(n_regionkey AS INTEGER) AS regionkey
    FROM nation
    """,
)
def ga15(spark, sf):
    """A4/B1 depth on a WRITER-produced graph: nation written with TWO
    vertex property groups ([name, regionkey] | [comment]), re-read
    with `columns=` selecting only the first — property-group pruning
    means the comment group's chunk files are never opened
    (`graphar/spark_writer.py` vertex_property_groups →
    `graphar/reader.py` group pruning)."""
    import shutil

    from duckdb_graphar_spark.graphar import read_vertices
    from duckdb_graphar_spark.graphar.spark_writer import write_graph_dist

    v = _t(spark, sf, "nation").select(
        F.col("n_nationkey").cast("long").alias("_graphArVertexIndex"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").cast("int").alias("regionkey"),
        # synthesized second-group payload (the fixture nation table
        # carries no comment column); its group's chunk files exist on
        # disk but must never be opened by the pruned read below
        F.concat(F.lit("nation-"), F.col("n_name")).alias("comment"),
    )
    out = tempfile.mkdtemp(prefix="ga15_pgroups_")
    try:
        gy = write_graph_dist(
            out,
            "NationPG",
            {"Nation": v},
            {},
            vertex_chunk_size=8,
            vertex_property_groups={"Nation": [["name", "regionkey"], ["comment"]]},
        )
        got = read_vertices(spark, gy, "Nation", columns=["name", "regionkey"])
        rows = got.collect()  # bounded: nation is 25 rows at every SF
        return spark.createDataFrame(
            rows, "`_graphArVertexIndex` long, name string, regionkey int"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@_q(
    "ga16_orc_roundtrip",
    # ORACLE: full-scan equality against the source rows — every byte
    # round-tripped through ORC chunk files written by executors and
    # read back through the Arrow mapInPandas chunk reader.
    """
    SELECT CAST(r_regionkey AS BIGINT) AS _graphArVertexIndex,
           r_name AS name
    FROM region
    """,
)
def ga16(spark, sf):
    """A4 non-parquet chunk formats, driver-pinned: region written as
    GraphAr ORC chunk files (file_type='orc'), re-read through the
    distributed Arrow chunk reader (ORC lacks `_metadata.row_index`, so
    rows are enumerated per file — `graphar/reader.py:_chunked_df`)."""
    import shutil

    from duckdb_graphar_spark.graphar import read_vertices
    from duckdb_graphar_spark.graphar.spark_writer import write_graph_dist

    v = _t(spark, sf, "region").select(
        F.col("r_regionkey").cast("long").alias("_graphArVertexIndex"),
        F.col("r_name").alias("name"),
    )
    out = tempfile.mkdtemp(prefix="ga16_orc_")
    try:
        gy = write_graph_dist(
            out, "RegionOrc", {"Region": v}, {}, vertex_chunk_size=2,
            file_type="orc",
        )
        rows = read_vertices(spark, gy, "Region").collect()  # 5 rows
        return spark.createDataFrame(
            rows, "`_graphArVertexIndex` long, name string"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@_q(
    "ga17_csv_roundtrip",
    # ORACLE: full-scan equality against the source rows — every value
    # round-tripped through CSV chunk files written by executors and
    # read back through the Arrow mapInPandas chunk reader (pyarrow
    # csv parse with explicit column types).
    """
    SELECT CAST(r_regionkey AS BIGINT) AS _graphArVertexIndex,
           r_name AS name
    FROM region
    """,
)
def ga17(spark, sf):
    """A4 non-parquet chunk formats, driver-pinned (CSV): region
    written as GraphAr CSV chunk files (file_type='csv', chunk_size 2
    so 5 rows span 3 chunks), re-read through the distributed Arrow
    chunk reader (`graphar/reader.py:_chunked_df` — CSV lacks
    `_metadata.row_index`, so rows are enumerated per file).  With
    ga16 (ORC) this closes A4's last soft cells: all four reference
    chunk formats now carry writer-produced driver evidence."""
    import shutil

    from duckdb_graphar_spark.graphar import read_vertices
    from duckdb_graphar_spark.graphar.spark_writer import write_graph_dist

    v = _t(spark, sf, "region").select(
        F.col("r_regionkey").cast("long").alias("_graphArVertexIndex"),
        F.col("r_name").alias("name"),
    )
    out = tempfile.mkdtemp(prefix="ga17_csv_")
    try:
        gy = write_graph_dist(
            out, "RegionCsv", {"Region": v}, {}, vertex_chunk_size=2,
            file_type="csv",
        )
        rows = read_vertices(spark, gy, "Region").collect()  # 5 rows
        return spark.createDataFrame(
            rows, "`_graphArVertexIndex` long, name string"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@_q(
    "ga18_json_roundtrip",
    # ORACLE: full-scan equality against the source rows — every value
    # round-tripped through JSON-lines chunk files written by executors
    # and read back through the Arrow mapInPandas chunk reader.
    """
    SELECT CAST(n_nationkey AS BIGINT) AS _graphArVertexIndex,
           n_name AS name,
           CAST(n_regionkey AS BIGINT) AS regionkey
    FROM nation
    """,
)
def ga18(spark, sf):
    """A4 non-parquet chunk formats, driver-pinned (JSON): nation (two
    properties, 25 rows over 4 chunks at chunk_size 7) written as
    GraphAr JSON-lines chunk files and re-read through the distributed
    Arrow chunk reader (pyarrow json parse)."""
    import shutil

    from duckdb_graphar_spark.graphar import read_vertices
    from duckdb_graphar_spark.graphar.spark_writer import write_graph_dist

    v = _t(spark, sf, "nation").select(
        F.col("n_nationkey").cast("long").alias("_graphArVertexIndex"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").cast("long").alias("regionkey"),
    )
    out = tempfile.mkdtemp(prefix="ga18_json_")
    try:
        gy = write_graph_dist(
            out, "NationJson", {"Nation": v}, {}, vertex_chunk_size=7,
            file_type="json",
        )
        rows = read_vertices(spark, gy, "Nation").collect()  # 25 rows
        return spark.createDataFrame(
            rows, "`_graphArVertexIndex` long, name string, regionkey long"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


_MULTI_EDGE_CACHE: dict[str, str] = {}


def _multi_edge_graphar(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir) a GraphAr graph with TWO edge types over
    the same Customer vertex set — the corner no other fixture covers.
    The reference's BFS scalar silently pins edge type 0 on multi-type
    graphs (`src/functions/scalar/bfs.cpp:61-70`, the documented quirk
    in SURVEY §3.3); this repo's contract is the opposite: every
    read/traversal names its (src, edge, dst) triple EXPLICITLY, and the
    two types here have different cardinalities/derivations so a
    type-0 fallback would be caught by value, not just by count.

    ordered:  src = o_custkey,  dst = o_orderkey % n          (all orders)
    referred: src = o_custkey,  dst = (o_orderkey*7 + 3) % n  (orderkey%5=0)
    """
    if sf_dir in _MULTI_EDGE_CACHE:
        return _MULTI_EDGE_CACHE[sf_dir]
    from duckdb_graphar_spark.graphar.spark_writer import write_graph_dist

    out = os.path.join(
        tempfile.gettempdir(), "graphar_multi_" + re.sub(r"\W", "_", sf_dir)
    )
    gy = os.path.join(out, "MultiEdgeGraph.yaml")
    sentinel = os.path.join(out, ".complete")
    if os.path.exists(gy) and os.path.exists(sentinel):
        _MULTI_EDGE_CACHE[sf_dir] = gy
        return gy
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("_graphArVertexIndex"),
        F.col("c_name").alias("name"),
    ).cache()
    n = cust.count()
    orders = _t(spark, sf_dir, "orders")
    ordered = orders.select(
        F.col("o_custkey").cast("long").alias("_graphArSrcIndex"),
        (F.col("o_orderkey").cast("long") % n).alias("_graphArDstIndex"),
    )
    referred = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_custkey").cast("long").alias("_graphArSrcIndex"),
        ((F.col("o_orderkey").cast("long") * 7 + 3) % n).alias("_graphArDstIndex"),
    )
    try:
        gy = write_graph_dist(
            out,
            "MultiEdgeGraph",
            {"Customer": cust},
            {
                ("Customer", "ordered", "Customer"): ordered,
                ("Customer", "referred", "Customer"): referred,
            },
            vertex_chunk_size=512,
            edge_chunk_size=2048,
            aligned_chunk_size=512,
        )
    finally:
        cust.unpersist(blocking=False)
    with open(sentinel, "w") as f:
        f.write("ok")
    _MULTI_EDGE_CACHE[sf_dir] = gy
    return gy


@_q(
    "ga19_multi_edge_types",
    # ORACLE: per-type count + endpoint checksums recomputed from the
    # source derivations — the two types differ in BOTH cardinality and
    # dst formula, so a reference-style silent type-0 fallback (or any
    # cross-type chunk mixup in the per-type CSR layouts) breaks the
    # 'referred' row's every column, not just its count.
    """
    WITH n AS (SELECT COUNT(*) AS n FROM customer),
    o AS (SELECT o_custkey AS src, o_orderkey % (SELECT n FROM n) AS dst
          FROM orders),
    r AS (SELECT o_custkey AS src, (o_orderkey * 7 + 3) % (SELECT n FROM n) AS dst
          FROM orders WHERE o_orderkey % 5 = 0)
    SELECT 'ordered' AS edge_type, COUNT(*) AS n_edges,
           CAST(SUM(src) AS BIGINT) AS sum_src,
           CAST(SUM(dst) AS BIGINT) AS sum_dst
    FROM o
    UNION ALL
    SELECT 'referred', COUNT(*), CAST(SUM(src) AS BIGINT),
           CAST(SUM(dst) AS BIGINT)
    FROM r
    """,
)
def ga19(spark, sf):
    """Multi-edge-type GraphAr pin (A2/A3 corner): one graph, two edge
    types over the same vertex set, each read by its EXPLICIT
    (src, edge, dst) triple through the per-type CSR chunk layout.
    The reference's BFS silently uses edge type 0 on such graphs
    (`src/functions/scalar/bfs.cpp:61-70`); this engine's traversals
    take the edge relation as an argument, so type selection is always
    explicit — the checksums here prove the two types read back
    distinct, correctly-routed edge sets."""
    from duckdb_graphar_spark.graphar import read_edges

    gy = _multi_edge_graphar(spark, sf)

    def summ(label: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum("_graphArSrcIndex").alias("sum_src"),
            F.sum("_graphArDstIndex").alias("sum_dst"),
        ).select(F.lit(label).alias("edge_type"), "n_edges", "sum_src", "sum_dst")

    e1 = read_edges(spark, gy, "Customer", "ordered", "Customer")
    e2 = read_edges(spark, gy, "Customer", "referred", "Customer")
    return summ("ordered", e1).unionByName(summ("referred", e2))


@_q(
    "q72_ohlc_resample",
    # ORACLE: open/close via first/last row_number in (ts, event_id)
    # order — the window formulation of the operator's min_by/max_by
    # over the (ts, id) struct.  No arithmetic touches the double
    # values (selection only), so every output is exact.
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events
    )
    SELECT event_type,
           CAST(bucket AS TIMESTAMP) AS bucket,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_z = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM b GROUP BY event_type, bucket
    """,
)
def q72(spark, sf):
    """Time-series OHLC resampling (the metrics/financial downsample):
    hourly open/high/low/close/count bars per event type in ONE
    map-combinable groupBy — open/close are min_by/max_by over the
    (ts, event_id) struct, so partials combine and no window sort or
    second pass exists (`operators/events.py:ohlc_bars`)."""
    from duckdb_graphar_spark.operators.events import ohlc_bars

    return ohlc_bars(_t(spark, sf, "events"))


@_q(
    "q73_value_histogram",
    # ORACLE: the bin expression replayed in the SAME IEEE operation
    # order — (v-mn), ×20, ÷(mx-mn), FLOOR, LEAST(19) — so every value
    # (boundary values included) lands in the same bucket on both
    # engines; extrema are exact min/max, bins with no rows are absent
    # on both sides.
    """
    WITH ext AS (
      SELECT event_type, MIN(value) AS mn, MAX(value) AS mx
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(CASE WHEN x.mx = x.mn THEN 0
                ELSE LEAST(19, FLOOR(((e.value - x.mn) * 20) / (x.mx - x.mn)))
                END AS BIGINT) AS bin,
           COUNT(*) AS n
    FROM events e JOIN ext x USING (event_type)
    GROUP BY 1, 2
    """,
)
def q73(spark, sf):
    """EXACT equal-width histogram with data-derived bounds (the
    profiling/BI shape approx sketches can't give exactly): per-key
    min/max pass, then a fixed-operation-order double binning — two
    map-combinable aggregates + one broadcast join of the k-row
    extrema table, the data never shuffled by value
    (`operators/stats.py:value_histogram`)."""
    from duckdb_graphar_spark.operators.stats import value_histogram

    return value_histogram(_t(spark, sf, "events"), n_bins=20)


@_q(
    "q78_join_view_maintenance",
    # ORACLE: state equivalence, not mechanism replay — the maintained
    # view must equal the DIRECT join of the updated tables (orders
    # split 80/20 on orderkey, customer split 90/10 on custkey; the
    # IVM identity covers the delta-delta cross term exactly once).
    """
    SELECT o_orderkey, o_custkey, CAST(c_nationkey AS BIGINT) AS nationkey
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q78(spark, sf):
    """Incremental JOIN view maintenance (q67's aggregate IVM extended
    to joins): Δ(A⋈B) = ΔA⋈B' ∪ A⋈ΔB — the maintained view refreshes
    with two DELTA-sized joins (AQE broadcasts the small delta sides)
    instead of re-joining the full tables, the O(increment) warehouse
    refresh (`operators/cdc.py:maintain_join`)."""
    from duckdb_graphar_spark.operators.cdc import maintain_join

    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
    )
    a_old = o.filter(F.col("o_orderkey") % 10 < 8)
    a_delta = o.filter(F.col("o_orderkey") % 10 >= 8)
    b_old = c.filter(F.col("o_custkey") % 10 < 9)
    b_delta = c.filter(F.col("o_custkey") % 10 >= 9)
    view = a_old.join(b_old, "o_custkey").select(
        "o_orderkey", "o_custkey", "nationkey"
    )
    return maintain_join(view, a_old, a_delta, b_old, b_delta, "o_custkey")


@_q(
    "q79_null_semantics",
    # ORACLE: IS NOT DISTINCT FROM mirrors eqNullSafe (NULL matches
    # NULL, exactly once per side at the aggregate level), and the rank
    # spells NULLS FIRST explicitly — engines disagree on the default
    # null sort order, so pinned semantics are the whole point.
    """
    WITH a AS (SELECT NULLIF(o_orderkey % 5, 4) AS k, COUNT(*) AS n_orders
               FROM orders GROUP BY 1),
    b AS (SELECT NULLIF(l_orderkey % 5, 4) AS k, COUNT(*) AS n_items
          FROM lineitem GROUP BY 1)
    SELECT a.k, a.n_orders, b.n_items,
           CAST(ROW_NUMBER() OVER (ORDER BY a.k ASC NULLS FIRST) AS BIGINT)
             AS rank
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q79(spark, sf):
    """NULL-semantics pin: the null-safe equality join (`eqNullSafe` /
    IS NOT DISTINCT FROM — NULL keys MATCH, unlike plain `=` which
    silently drops them) plus explicit NULLS FIRST ordering — the two
    null corners that differ across engines and quietly corrupt
    warehouse rollups when left to defaults.  Joined at the aggregate
    level so the null group is one row per side (never the O(nulls²)
    row blowup a raw null-safe join invites)."""
    o = (
        _t(spark, sf, "orders")
        .groupBy(F.nullif(F.col("o_orderkey") % 5, F.lit(4)).alias("k"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    li = (
        _t(spark, sf, "lineitem")
        .groupBy(F.nullif(F.col("l_orderkey") % 5, F.lit(4)).alias("__k"))
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    j = o.join(li, o["k"].eqNullSafe(li["__k"])).select("k", "n_orders", "n_items")
    w = Window.orderBy(F.col("k").asc_nulls_first())
    return j.withColumn("rank", F.row_number().over(w).cast("long"))


_Q83_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c.c_custkey < 100
"""


@_q(
    "q83_lateral_topn_per_group",
    # ORACLE: the IDENTICAL query text on DuckDB (the q74 discipline) —
    # engine parity on the correlated-LATERAL surface itself, not a
    # window-function reimplementation.  Ties break (price DESC, key
    # ASC); customers without orders drop out on both engines (inner
    # lateral); prices are raw doubles from the shared parquet.
    _Q83_SQL,
)
def q83(spark, sf):
    """Correlated LATERAL subquery with per-group ORDER BY LIMIT — the
    top-n-per-group shape expressed as the SQL standard's lateral
    derived table instead of a row_number window, run natively by
    Catalyst (planned as a ranked inner join, no single-task global
    sort).  The oracle is the SAME query text on DuckDB — parity on
    the newest join surface, complementing q74's recursive CTE and
    q47/q48's window formulations of the same problem."""
    _t(spark, sf, "customer").createOrReplaceTempView("customer")
    _t(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q83_SQL)


@_q(
    "q89_last_touch_attribution",
    # ORACLE: the same LAST_VALUE IGNORE NULLS window over the shared
    # (ts, event_id) ordering — the no-prior-view NULL corner and
    # same-timestamp ties replay exactly; the gap is integer µs.
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END
                        IGNORE NULLS)
               OVER w AS attributed_view_id,
             LAST_VALUE(CASE WHEN event_type = 'view'
                             THEN CAST(epoch_us(ts) AS BIGINT) END
                        IGNORE NULLS)
               OVER w AS view_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id,
           CAST(attributed_view_id AS BIGINT) AS attributed_view_id,
           CAST(epoch_us(ts) - view_us AS BIGINT) AS gap_us
    FROM o WHERE event_type = 'purchase'
    """,
)
def q89(spark, sf):
    """LAST-TOUCH attribution — the marketing-warehouse pattern: each
    purchase credits the same user's most recent PRECEDING view;
    purchases with no prior view keep NULL credit honestly.  Round-8
    hot-key fix: the per-user running window is SEGMENTED by
    (user, day) with an exact boundary stitch (in-segment lookback,
    else the carried last view of the nearest earlier segment), so a
    user owning half a 100 TB log is many bounded sorts instead of one
    straggler task — BIT-IDENTICAL output to the single-window oracle
    (`operators/events.py:last_touch_attribution`)."""
    from duckdb_graphar_spark.operators.events import last_touch_attribution

    return last_touch_attribution(_t(spark, sf, "events"))


@_q(
    "q93_capped_sessionization",
    # ORACLE: the sequential recurrence replayed with a recursive CTE
    # over row_number-ordered per-user events — break when the
    # inactivity gap >= 12h OR the running session duration would
    # exceed 48h (strictly greater, measured from the session START
    # chosen by PREVIOUS breaks — the dependence that makes
    # gaps-and-islands windows unable to express this).
    """
    WITH RECURSIVE o AS (
      SELECT user_id, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS rn
      FROM events
    ),
    r(user_id, rn, ts, sess_start, sid) AS (
      SELECT user_id, rn, ts, ts, 0 FROM o WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, o.ts,
             CASE WHEN epoch_us(o.ts) - epoch_us(r.ts) >= 43200000000
                       OR epoch_us(o.ts) - epoch_us(r.sess_start) > 172800000000
                  THEN o.ts ELSE r.sess_start END,
             CASE WHEN epoch_us(o.ts) - epoch_us(r.ts) >= 43200000000
                       OR epoch_us(o.ts) - epoch_us(r.sess_start) > 172800000000
                  THEN r.sid + 1 ELSE r.sid END
      FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, CAST(sid AS INTEGER) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r GROUP BY user_id, sid
    """,
)
def q93(spark, sf):
    """Sessionization with BOTH production break rules — inactivity
    gap ≥ 12h OR running duration > 48h (the cap that stops a gap-free
    bot stream from forming one unbounded session).  The duration rule
    is SEQUENTIAL per user (each break depends on the session start
    the previous breaks chose), which the st03/q26 gaps-and-islands
    window trick cannot express — so it runs as one user shuffle into
    an Arrow-batched mapInPandas over the window-sorted partitions
    (r13: one Python invocation per Arrow batch instead of one per
    user — 1500 tiny groups cost ~5 s of pure per-group machinery)
    whose per-user scan is vectorized
    (gap breaks from one numpy diff, duration breaks by searchsorted
    jumps — O(events + sessions·log events), one output row per
    SESSION; the r8 rewrite of an O(events²) array-append fold the
    skew probe caught at 64 s/50k-event user); the oracle replays the
    recurrence with a recursive CTE
    (`operators/events.py:sessionize_capped`)."""
    from duckdb_graphar_spark.operators.events import sessionize_capped

    return sessionize_capped(
        _t(spark, sf, "events"),
        gap_seconds=43_200,
        max_duration_seconds=172_800,
    )


@_q(
    "q90_linear_attribution",
    # ORACLE: the same two windows — each VIEW's next purchase via
    # FIRST_VALUE IGNORE NULLS over the FOLLOWING frame on the shared
    # (ts, event_id) ordering, then the touch count per (user,
    # purchase) via a COUNT window — and credit = 1/n is one IEEE
    # division of exact integers.  Views after the user's last
    # purchase are honestly unattributed (dropped).
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS purchase_id
      FROM events
    ),
    v AS (SELECT user_id, event_id AS view_id, purchase_id
          FROM o WHERE event_type = 'view' AND purchase_id IS NOT NULL),
    n AS (SELECT *, COUNT(*) OVER (PARTITION BY user_id, purchase_id)
                 AS n_touches FROM v)
    SELECT CAST(purchase_id AS BIGINT) AS purchase_id, user_id,
           CAST(view_id AS BIGINT) AS view_id,
           CAST(n_touches AS BIGINT) AS n_touches,
           CAST(1.0 AS DOUBLE) / n_touches AS credit
    FROM n
    """,
)
def q90(spark, sf):
    """LINEAR multi-touch attribution, since-last-conversion scope —
    q89's sibling: each purchase splits one unit of credit EQUALLY
    across the views since the user's previous purchase; each view
    belongs to exactly ONE purchase (the first purchase at-or-after
    it), so the output is VIEW-linear — no view×purchase pair blowup —
    and credit = 1/n_touches is one division of exact integers.
    Round-8 hot-key fix: the per-user following window is SEGMENTED by
    (user, day) with an exact boundary stitch, and n_touches comes
    from a map-combined groupBy + join instead of an unordered count
    window (which buffers its whole partition) — BIT-IDENTICAL output
    to the single-window oracle
    (`operators/events.py:linear_attribution`)."""
    from duckdb_graphar_spark.operators.events import linear_attribution

    return linear_attribution(_t(spark, sf, "events"))


@_q(
    "q100_winsorize",
    # ORACLE: per-group row_number rank selection at floor((n−1)·p)+1
    # for BOTH fences (p05/p95, percentile_disc semantics — exact
    # decimal target ranks), then LEAST/GREATEST clamping.  Integer
    # cents end-to-end; the fences are data elements, the clamp is an
    # integer comparison.
    """
    WITH d AS (SELECT event_id, event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS c
               FROM events WHERE value IS NOT NULL),
    r AS (SELECT event_type, c,
                 row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM d),
    lo AS (SELECT event_type, c AS lo_c FROM r
           WHERE rn = CAST(FLOOR((n - 1) * 0.05) AS BIGINT) + 1),
    hi AS (SELECT event_type, c AS hi_c FROM r
           WHERE rn = CAST(FLOOR((n - 1) * 0.95) AS BIGINT) + 1)
    SELECT d.event_id, d.event_type, d.c AS cents,
           CAST(LEAST(GREATEST(d.c, lo.lo_c), hi.hi_c) AS BIGINT)
               AS winsorized_cents,
           CAST(lo.lo_c AS BIGINT) AS p05_cents,
           CAST(hi.hi_c AS BIGINT) AS p95_cents
    FROM d JOIN lo USING (event_type) JOIN hi USING (event_type)
    """,
)
def q100(spark, sf):
    """Winsorization — per-group p05/p95 outlier clipping, the
    training-data preprocessing twin of q98's MAD fences: both fences
    come from ONE `grouped_quantile_disc` machinery PASS (multi-prob —
    one (group, value) count shuffle, one cumsum; only the broadcast
    target-rank table fans out ×2), pivoted and broadcast back, and
    the clamp is pure integer LEAST/GREATEST — no per-group sorted
    window anywhere
    (`operators/quantiles.py:grouped_quantile_disc`)."""
    from duckdb_graphar_spark.operators.quantiles import grouped_quantile_disc

    # LAZY checkpoint: d feeds the fence computation AND the final clamp
    # join — r12 paid a second full events scan for the latter.  The
    # fence call's bounds collect is d's own full materialization.
    d = (
        _t(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .localCheckpoint(eager=False)
    )
    fences = grouped_quantile_disc(
        d, ["event_type"], "cents", [0.05, 0.95]
    ).groupBy("event_type").agg(
        F.max(F.when(F.col("prob") == 0.05, F.col("value")))
        .cast("long")
        .alias("p05_cents"),
        F.max(F.when(F.col("prob") == 0.95, F.col("value")))
        .cast("long")
        .alias("p95_cents"),
    )
    return (
        d.join(F.broadcast(fences), "event_type")
        .select(
            "event_id",
            "event_type",
            "cents",
            F.least(
                F.greatest(F.col("cents"), F.col("p05_cents")),
                F.col("p95_cents"),
            ).alias("winsorized_cents"),
            "p05_cents",
            "p95_cents",
        )
    )


@_q(
    "q102_kll_quantile_rollup",
    # ORACLE: the DIRECT sketch (no per-day split) — legal as a FULL
    # value replay because the sketch is a deterministic function of
    # the row set and merge-of-partials == direct-by-construction
    # (T* of a union ≥ every partial T, so survivor unions carry
    # complete per-level counts at ℓ ≥ max T_p); the driver's hash
    # compare against Spark's per-day ROLLUP is therefore the
    # merge-invariance theorem itself, the q80 licence.  Levels are
    # md5 integer arithmetic + bit_count (verified bit-identical
    # cross-engine); ranks are integer div; the only doubles are the
    # data values and the audited q50 CDF.
    """
    WITH b AS (SELECT event_type AS g, CAST(event_id AS VARCHAR) AS tag,
                      CAST(value AS DOUBLE) AS val
               FROM events WHERE value IS NOT NULL),
    h AS (SELECT g, tag, val,
                 CAST(CAST(concat('0x', substr(md5('kll0' || chr(31) || tag), 1, 13))
                      AS UBIGINT) AS BIGINT) + 1 AS hv
          FROM b),
    l AS (SELECT g, tag, val, bit_count((hv & -hv) - 1) AS lvl FROM h),
    cnt AS (SELECT g, lvl, COUNT(*) AS c FROM l GROUP BY 1, 2),
    cm AS (SELECT g, lvl, c,
                  SUM(c) OVER (PARTITION BY g ORDER BY lvl DESC) AS cum
           FROM cnt),
    t AS (SELECT g,
                 CAST(CASE WHEN SUM(c) <= 256 THEN 0
                      ELSE 1 + MAX(CASE WHEN cum > 256 THEN lvl END)
                      END AS INTEGER) AS t_level
          FROM cm GROUP BY g),
    kept AS (SELECT l.g, l.val, l.tag FROM l JOIN t ON l.g = t.g
             WHERE l.lvl >= t.t_level),
    m AS (SELECT g, COUNT(*) AS m_kept FROM kept GROUP BY 1),
    rk AS (SELECT g, val,
                  ROW_NUMBER() OVER (PARTITION BY g ORDER BY val, tag) AS rn
           FROM kept),
    q AS (SELECT rk.g,
                 MAX(CASE WHEN rn = ((m_kept - 1) * 1) // 4 + 1 THEN val END) AS q25_est,
                 MAX(CASE WHEN rn = ((m_kept - 1) * 1) // 2 + 1 THEN val END) AS q50_est,
                 MAX(CASE WHEN rn = ((m_kept - 1) * 3) // 4 + 1 THEN val END) AS q75_est
          FROM rk JOIN m ON rk.g = m.g GROUP BY rk.g),
    nx AS (SELECT g, COUNT(*) AS n_exact FROM b GROUP BY g),
    r50 AS (SELECT b.g,
                   SUM(CASE WHEN b.val <= q.q50_est THEN 1 ELSE 0 END)
                   / COUNT(*) AS r50
            FROM b JOIN q ON b.g = q.g GROUP BY b.g)
    SELECT nx.g AS event_type,
           CAST(nx.n_exact AS BIGINT) AS n_exact,
           t.t_level AS t_level,
           CAST(COALESCE(m.m_kept, 0) AS BIGINT) AS m_kept,
           CAST(COALESCE(m.m_kept, 0) * (CAST(1 AS BIGINT) << t.t_level)
                AS BIGINT) AS est_n,
           q.q25_est, q.q50_est, q.q75_est,
           CASE WHEN COALESCE(m.m_kept, 0) > 0 THEN ROUND(r50.r50, 6)
                END AS q50_rank,
           CASE WHEN COALESCE(m.m_kept, 0) > 0
                THEN ABS(r50.r50 - 0.5)
                     <= 1.5 / sqrt(CAST(m.m_kept AS DOUBLE))
                END AS within_tol
    FROM nx JOIN t ON nx.g = t.g
    LEFT JOIN m ON nx.g = m.g
    LEFT JOIN q ON nx.g = q.g
    LEFT JOIN r50 ON nx.g = r50.g
    """,
)
def q102(spark, sf):
    """Mergeable KLL-style quantile sketch rollup — the missing member
    of the sketch family (HLL q63 / KMV q80 / CMS q81 / Misra-Gries
    t26): per-(event_type, day) level-sampled summaries merged to
    per-type sketches WITHOUT re-scanning values, quantiles read from
    ≤ 256 kept rows per group.  Levels are content-addressed md5 coin
    flips (trailing-zero bits), so the sketch is a deterministic
    function of the row set and the per-day rollup is bit-identical
    to the direct sketch — which is what the oracle replays
    (`operators/sketch.py:kll_quantile_rollup`)."""
    from duckdb_graphar_spark.operators.sketch import kll_quantile_rollup

    ev = _t(spark, sf, "events").withColumn(
        "__day", F.date_trunc("day", F.col("ts"))
    )
    # audit=True: the oracle replays the q50-CDF QA columns too.  The
    # production build is audit=False (2 corpus passes instead of 3);
    # tests/test_plans.py pins that scan-count difference.
    return kll_quantile_rollup(
        ev, "event_type", "value", "event_id", partial_col="__day", k=256,
        audit=True,
    )


@_q(
    "q99_weighted_median",
    # ORACLE: an INDEPENDENT construction — per-group cumulative weight
    # over value order, pick the smallest value whose cumulative weight
    # reaches floor((W−1)/2)+1 (the unweighted percentile_disc rank on
    # the weight-expanded multiset, without expanding it).  Integer
    # cents, integer quantity weights — exact everywhere.
    """
    WITH d AS (SELECT l_returnflag AS g,
                      CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
                      CAST(l_quantity AS BIGINT) AS w
               FROM lineitem WHERE l_extendedprice IS NOT NULL),
    a AS (SELECT g, v, CAST(SUM(w) AS BIGINT) AS sw FROM d GROUP BY 1, 2),
    c AS (SELECT g, v, sw,
                 CAST(SUM(sw) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum,
                 CAST(SUM(sw) OVER (PARTITION BY g) AS BIGINT) AS tot
          FROM a)
    SELECT g AS l_returnflag,
           CAST(MIN(CASE WHEN cum >= (tot - 1) // 2 + 1 THEN v END) AS BIGINT)
               AS median_cents,
           CAST(MIN((tot - 1) // 2 + 1) AS BIGINT) AS target_rank,
           CAST(MIN(tot) AS BIGINT) AS n
    FROM c GROUP BY 1
    """,
)
def q99(spark, sf):
    """WEIGHTED median per group — the value at weighted rank
    floor((W−1)/2)+1, i.e. the exact median of the quantity-expanded
    price multiset WITHOUT expanding it: `grouped_quantile_disc`'s
    per-(group, value) aggregate sums integer weights instead of
    counting rows, and the same two-phase bucketed rank scan picks the
    target (weights type-checked integral at plan time, positivity
    enforced in-plan by raise_error)
    (`operators/quantiles.py:grouped_quantile_disc(weight_col=...)`)."""
    from duckdb_graphar_spark.operators.quantiles import grouped_quantile_disc

    d = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .select(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
            F.col("l_quantity").cast("long").alias("w"),
        )
    )
    return grouped_quantile_disc(
        d, ["l_returnflag"], "v", 0.5, weight_col="w"
    ).select(
        "l_returnflag",
        F.col("value").cast("long").alias("median_cents"),
        "target_rank",
        "n",
    )


@_q(
    "q98_mad_outliers",
    # ORACLE: an INDEPENDENT construction — per-group row_number rank
    # selection at floor((n−1)/2)+1 for both the median and the MAD
    # (the Spark side uses the two-phase grouped rank scan instead of
    # any per-group sorted window).  Everything is integer cents: the
    # median is a data element, deviations are |int − int|, the MAD is
    # a data element, and the 3·MAD fence is an integer comparison —
    # no float anywhere.
    """
    WITH d AS (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
               FROM events WHERE value IS NOT NULL),
    med AS (SELECT event_type, c AS mc FROM (
              SELECT event_type, c,
                     row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
                     COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM d) WHERE rn = CAST(FLOOR((n - 1) * 0.5) AS BIGINT) + 1),
    dev AS (SELECT d.event_type, d.c, med.mc, ABS(d.c - med.mc) AS dv
            FROM d JOIN med USING (event_type)),
    mad AS (SELECT event_type, dv AS madc FROM (
              SELECT event_type, dv,
                     row_number() OVER (PARTITION BY event_type ORDER BY dv) AS rn,
                     COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM dev) WHERE rn = CAST(FLOOR((n - 1) * 0.5) AS BIGINT) + 1)
    SELECT dev.event_type,
           CAST(MIN(dev.mc) AS BIGINT) AS median_cents,
           CAST(MIN(mad.madc) AS BIGINT) AS mad_cents,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN dev.dv > 3 * mad.madc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY 1
    """,
)
def q98(spark, sf):
    """Robust per-group outlier fences — median + MAD (median absolute
    deviation) + the 3·MAD count, the robust-statistics sibling of
    q61's moment stats: two passes of
    `quantiles.py:grouped_quantile_disc` (the two-phase grouped rank
    scan — distinct-value counts, per-(group, bucket) prefix sums
    collected bounded, parallel bucket windows — never a per-group
    sorted buffer), a broadcast join back, and an integer fence.
    Exact end-to-end: cents in, data elements out."""
    from duckdb_graphar_spark.operators.quantiles import grouped_quantile_disc

    # LAZY checkpoints on d and dev: the entry's actions ran THREE full
    # events scans in r12 (the median call's bounds collect re-derived
    # d, the MAD call's re-derived dev→d, and the final fence join
    # re-derived dev again).  Each frame is fully materialized by the
    # first grouped_quantile_disc bounds collect that consumes it (its
    # own aggregate action — the scc trim-loop lazy rule), so the
    # source is read ONCE per run.
    d = (
        _t(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
        )
        .localCheckpoint(eager=False)
    )
    med = grouped_quantile_disc(d, ["event_type"], "c", 0.5).select(
        "event_type", F.col("value").cast("long").alias("mc")
    )
    dev = (
        d.join(F.broadcast(med), "event_type")
        .withColumn("dv", F.abs(F.col("c") - F.col("mc")))
        .localCheckpoint(eager=False)
    )
    mad = grouped_quantile_disc(dev, ["event_type"], "dv", 0.5).select(
        "event_type", F.col("value").cast("long").alias("madc")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("mc").alias("median_cents"),
            F.min("madc").alias("mad_cents"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("dv") > 3 * F.col("madc"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@_q(
    "q97_clamped_balance",
    # ORACLE: the closed form itself — running sum, running min of it,
    # B = S − min(0, runmin) — over the shared (ts, event_id) ordering
    # with integer-cent deltas (purchases debit, everything else
    # credits).  The Lindley identity is what makes the recurrence
    # max(0, B+δ) windowable at all; tests/test_events_sketch.py pins
    # the identity against a literal per-row fold.
    """
    WITH d AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN -CAST(ROUND(value * 100) AS BIGINT)
                  ELSE CAST(ROUND(value * 100) AS BIGINT) END AS delta
      FROM events
    ),
    p AS (SELECT user_id, ts, event_id,
                 SUM(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS pre
          FROM d),
    m AS (SELECT user_id, event_id, pre,
                 MIN(pre) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS runmin
          FROM p)
    SELECT event_id, user_id,
           CAST(pre - LEAST(CAST(0 AS BIGINT), runmin) AS BIGINT) AS balance
    FROM m
    """,
)
def q97(spark, sf):
    """Zero-clamped running balance per user (B = max(0, B + δ) — the
    inventory/prepaid-ledger recurrence): purchases debit exact cents,
    other events credit.  The sequential-looking fold is solved in
    CLOSED FORM by the Lindley/Skorokhod reflection identity —
    B = S − min(0, running-min(S)) — two incremental running windows,
    no UDF, both (user, day)-segmented with an exact carried-sum/
    carried-low-water stitch
    (`operators/events.py:clamped_running_balance`)."""
    from duckdb_graphar_spark.operators.events import clamped_running_balance

    ev = _t(spark, sf, "events").withColumn(
        "delta",
        F.when(
            F.col("event_type") == "purchase",
            -F.round(F.col("value") * 100).cast("long"),
        ).otherwise(F.round(F.col("value") * 100).cast("long")),
    )
    return clamped_running_balance(ev, segment_seconds=86_400)


@_q(
    "q95_rfm_segmentation",
    # ORACLE: plain global NTILE(5) windows over each metric with the
    # custkey tie-break making every ordering total.  The Spark side
    # computes the SAME buckets with the two-phase distributed rank
    # (range partitions + broadcast prefix offsets + per-partition
    # windows) — an unpartitioned NTILE window would put the whole
    # table on one task.  Metrics are exact integers (epoch-µs days,
    # counts, cents), so there is no float anywhere.
    """
    WITH b AS (SELECT o_custkey AS custkey, epoch_us(o_orderdate) AS ous,
                      CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
    a AS (SELECT custkey, MAX(ous) AS last_us, COUNT(*) AS frequency,
                 CAST(SUM(cents) AS BIGINT) AS monetary_cents
          FROM b GROUP BY 1),
    t AS (SELECT custkey,
                 ((SELECT MAX(ous) FROM b) - last_us) // 86400000000 AS recency_days,
                 frequency, monetary_cents
          FROM a),
    s AS (SELECT custkey, recency_days, frequency, monetary_cents,
                 NTILE(5) OVER (ORDER BY recency_days, custkey) AS r_tile,
                 NTILE(5) OVER (ORDER BY frequency, custkey) AS f_tile,
                 NTILE(5) OVER (ORDER BY monetary_cents, custkey) AS m_tile
          FROM t)
    SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary_cents,
           CAST(r_tile AS BIGINT) AS r_tile, CAST(f_tile AS BIGINT) AS f_tile,
           CAST(m_tile AS BIGINT) AS m_tile,
           CAST(r_tile AS VARCHAR) || CAST(f_tile AS VARCHAR)
               || CAST(m_tile AS VARCHAR) AS segment
    FROM s
    """,
)
def q95(spark, sf):
    """RFM customer segmentation: per-customer recency (whole days
    since last order, epoch-µs exact), frequency, and monetary (exact
    cents), each scored into equal-depth quintiles — tile 1 = most
    recent / least frequent / smallest spend, ties broken by custkey.
    The quintiles come from `operators/ranking.py:global_ntile`, the
    two-phase distributed rank (range-partition → lazy-checkpoint pin
    → broadcast prefix offsets → per-partition windows) that replaces
    the single-task unpartitioned NTILE window."""
    from duckdb_graphar_spark.operators.ranking import global_ntile

    orders = _t(spark, sf, "orders")
    ous = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
    )
    base = orders.select(
        F.col("o_custkey").alias("custkey"),
        ous.alias("__ous"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("__cents"),
    )
    agg = base.groupBy("custkey").agg(
        F.max("__ous").alias("__last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("__cents").alias("monetary_cents"),
    )
    max_us = base.agg(F.max("__ous")).first()[0]
    rfm = agg.select(
        "custkey",
        F.expr(f"({max_us} - __last_us) DIV 86400000000").alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    scored = global_ntile(
        rfm, value_col="recency_days", id_col="custkey", tiles=5, out_col="r_tile"
    )
    scored = global_ntile(
        scored, value_col="frequency", id_col="custkey", tiles=5, out_col="f_tile"
    )
    scored = global_ntile(
        scored,
        value_col="monetary_cents",
        id_col="custkey",
        tiles=5,
        out_col="m_tile",
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r_tile").cast("string"),
            F.col("f_tile").cast("string"),
            F.col("m_tile").cast("string"),
        ),
    )


@_q(
    "q96_time_decay_attribution",
    # ORACLE: q90's FOLLOWING-frame pairing carrying the purchase's
    # epoch micros alongside its id (two FIRST_VALUE windows over the
    # identical frame), decay quantized to WHOLE half-lives so every
    # weight is the exact integer 2^(50-n) (no exp() — engines
    # disagree on transcendental last-ulps, never on integers), an
    # exact DECIMAL(38,0) normalizer, and credit = ONE IEEE division.
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS pid,
             FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS pus
      FROM events
    ),
    v AS (SELECT user_id, event_id AS view_id, pid, pus, epoch_us(ts) AS vus
          FROM o WHERE event_type = 'view' AND pid IS NOT NULL),
    wt AS (SELECT user_id, view_id, pid,
                  LEAST((pus - vus) // 86400000000, 50) AS halflives,
                  (CAST(1 AS BIGINT) << CAST(50 - LEAST((pus - vus) // 86400000000, 50)
                                             AS INTEGER)) AS weight
           FROM v),
    s AS (SELECT user_id, pid, SUM(CAST(weight AS DECIMAL(38,0))) AS sw
          FROM wt GROUP BY 1, 2)
    SELECT CAST(wt.pid AS BIGINT) AS purchase_id, wt.user_id,
           CAST(wt.view_id AS BIGINT) AS view_id,
           CAST(wt.halflives AS BIGINT) AS halflives,
           CAST(wt.weight AS BIGINT) AS weight,
           CAST(wt.weight AS DOUBLE) / CAST(s.sw AS DOUBLE) AS credit
    FROM wt JOIN s ON s.user_id = wt.user_id AND s.pid = wt.pid
    """,
)
def q96(spark, sf):
    """Time-decay multi-touch attribution: q90's view→purchase scope
    with recency-weighted credit — a touch n half-lives (1 day) before
    the conversion carries relative weight 2^-n, quantized to whole
    half-lives so weights are EXACT integers (2^(50-n)), the
    normalizer is an exact decimal groupBy+join (never a count
    window), and credit is one IEEE division.  Same segmented
    DESC-running-window + boundary-stitch plan as q90, with the
    purchase's epoch micros carried in the window's struct payload
    (`operators/events.py:time_decay_attribution`)."""
    from duckdb_graphar_spark.operators.events import time_decay_attribution

    return time_decay_attribution(
        _t(spark, sf, "events"),
        half_life_seconds=86_400,
        max_halflives=50,
        segment_seconds=86_400,
    )


@_q(
    "q94_running_distinct",
    # ORACLE: the single-window form — a first-occurrence flag (1 iff
    # this (user, type) pair's ROW_NUMBER on the shared (ts, event_id)
    # ordering is 1) running-summed per user.  Integer arithmetic
    # end-to-end; the Spark side computes the SAME numbers with the
    # (user, day)-segmented stitch and a groupBy-min first-occurrence
    # stamp (no per-(user,type) window, no collect_set buffer).
    """
    WITH f AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS ff
      FROM events
    )
    SELECT event_id, user_id,
           CAST(SUM(ff) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_distinct
    FROM f
    """,
)
def q94(spark, sf):
    """Running DISTINCT count per user (how many distinct event types
    seen so far, inclusive) — the COUNT(DISTINCT) OVER Spark lacks,
    rebuilt scalably: first-occurrence = one map-combinable
    MIN(struct) groupBy stamped back by hash join (a skewed probe side
    is AQE-splittable — no sort), then the q89-style (user, day)-
    segmented running sum with an exact boundary stitch; a naive
    size(collect_set() OVER ...) buffers a per-row set per window row
    (`operators/events.py:running_distinct`)."""
    from duckdb_graphar_spark.operators.events import running_distinct

    return running_distinct(
        _t(spark, sf, "events"),
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
        value_col="event_type",
        segment_seconds=86_400,
    )


@_q(
    "q91_funnel_within_window",
    # ORACLE: q58's staged-min construction with the conversion window
    # folded into each stage's candidate set — stage i+1 is the first
    # event STRICTLY after t_i AND within 6h of it (integer µs bound).
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND epoch_us(e.ts) - epoch_us(s1.t1) <= 21600000000
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND epoch_us(e.ts) - epoch_us(s2.t2) <= 21600000000
           GROUP BY e.user_id)
    SELECT u.user_id,
           CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stages_completed,
           COALESCE(t3, t2, t1) AS completed_at
    FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
           LEFT JOIN s3 USING (user_id)
    """,
)
def q91(spark, sf):
    """CONVERSION-WINDOW funnel (view→click→purchase, each stage
    within 6 hours of the previous) — the semantics every product
    funnel eventually needs: a purchase three weeks after the click is
    not attributable to it.  Same one-shuffle sorted fold as q58 with
    the integer-µs window bound inside the fold step; anchors stay
    greedy-earliest, provably equal to the staged-min-with-window
    construction the oracle computes
    (`operators/events.py:funnel(max_gap_us)`)."""
    from duckdb_graphar_spark.operators.events import funnel

    return funnel(
        _t(spark, sf, "events"),
        ["view", "click", "purchase"],
        max_gap_us=21_600_000_000,
    )


@_q(
    "s22_retrieval_recall_mrr",
    # ORACLE: the full eval chain replayed — s18's sign-packing +
    # Hamming ranking as the approximate side, s01's exact-cosine
    # ranking as the ground truth, then per-query recall@5 = hits/5
    # and MRR = 1/first-hit-rank (0 when none): every metric is one
    # IEEE division of exact small integers.
    """
    WITH p AS (
      SELECT vec_id,
             CAST(list_sum([CASE WHEN embedding[CAST(i AS INTEGER) + 1] > 0
                            THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
                            ELSE CAST(0 AS BIGINT) END
                       FOR i IN generate_series(0, 31)]) AS BIGINT) AS w0,
             CAST(list_sum([CASE WHEN embedding[CAST(i AS INTEGER) + 33] > 0
                            THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
                            ELSE CAST(0 AS BIGINT) END
                       FOR i IN generate_series(0, 31)]) AS BIGINT) AS w1
      FROM embeddings),
    q AS (SELECT vec_id AS qid, w0 AS q0, w1 AS q1 FROM p WHERE vec_id < 3),
    approx AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT q.qid AS query_id, p.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                                  ORDER BY bit_count(xor(p.w0, q.q0))
                                           + bit_count(xor(p.w1, q.q1)),
                                           p.vec_id) AS rank
        FROM p CROSS JOIN q WHERE p.vec_id != q.qid
      ) WHERE rank <= 5
    ),
    qe AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 3),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qe.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY qe.query_id
                                  ORDER BY ROUND(list_cosine_similarity(
                                      CAST(e.embedding AS DOUBLE[]),
                                      CAST(qe.qv AS DOUBLE[])), 6) DESC,
                                           e.vec_id) AS rank
        FROM embeddings e CROSS JOIN qe WHERE e.vec_id != qe.query_id
      ) WHERE rank <= 5
    ),
    hits AS (
      SELECT a.query_id, COUNT(*) AS n_hits, MIN(a.rank) AS first_hit
      FROM approx a SEMI JOIN exact g
        ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
      GROUP BY a.query_id
    )
    SELECT s.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall_at_k,
           CASE WHEN h.first_hit IS NULL THEN 0.0
                ELSE 1.0 / h.first_hit END AS reciprocal_rank
    FROM (SELECT DISTINCT query_id FROM exact) s
    LEFT JOIN hits h USING (query_id)
    """,
)
def s22(spark, sf):
    """Retrieval QUALITY eval — recall@5 and MRR of the binary-Hamming
    index (s18's 32×-compressed first stage) against the exact-cosine
    ground truth (s01): the eval primitive every ANN deployment gates
    on, generic over any two ranked result sets.  Metrics are
    divisions of exact small integers (bit-stable); the ground-truth
    query set is the spine so an approx side that misses a query
    reports 0 honestly
    (`operators/similarity.py:retrieval_metrics`)."""
    from duckdb_graphar_spark.operators.embeddings import hamming_topk
    from duckdb_graphar_spark.operators.similarity import (
        brute_force_topk,
        retrieval_metrics,
    )

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = hamming_topk(e, q, k=5, dim=64)
    exact = brute_force_topk(e, q, k=5)
    return retrieval_metrics(approx, exact, k=5)


@_q(
    "d09_semantic_dedup_corpus",
    # ORACLE: s21's full pair chain (fixed k=64 assignment, projection-
    # slice cap, cosine >= 0.3 pairs) closed with a recursive CTE over
    # pairs + a self-loop per corpus vector — singletons are their own
    # kept cluster, exactly like the Spark side's full-corpus vertex
    # spine.
    """
    WITH RECURSIVE c AS (
      SELECT embedding AS cv,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 64)
    ),
    d AS (
      SELECT e.vec_id, c.cidx,
             list_sum([CAST((CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            AS DECIMAL(38,18))
                       FOR i IN generate_series(1, len(e.embedding))]) AS d2
      FROM embeddings e CROSS JOIN c
    ),
    asg AS (
      SELECT vec_id, cidx AS cluster
      FROM (SELECT vec_id, cidx,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cidx ASC) AS rn
            FROM d)
      WHERE rn = 1
    ),
    m AS (SELECT asg.cluster, e.vec_id, e.embedding
          FROM asg JOIN embeddings e USING (vec_id)),
    pr AS (
      SELECT cluster, vec_id, embedding,
             list_sum([CAST(CAST(embedding[i] AS DOUBLE)
                            * (((i - 1) * 2654435761) % 97 - 48)
                            AS DECIMAL(38,12))
                       FOR i IN generate_series(1, len(embedding))]) AS proj
      FROM m
    ),
    mm AS (
      SELECT cluster,
             CAST((row_number() OVER (PARTITION BY cluster
                                      ORDER BY proj, vec_id) - 1) // 10
                  AS BIGINT) AS sub,
             vec_id, embedding
      FROM pr
    ),
    prs AS (
      SELECT a.vec_id AS id_keep, b.vec_id AS id_drop
      FROM mm a JOIN mm b ON a.cluster = b.cluster AND a.sub = b.sub
                         AND a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
    ),
    und AS (SELECT id_keep AS a, id_drop AS b FROM prs
            UNION SELECT id_drop, id_keep FROM prs
            UNION SELECT vec_id, vec_id FROM embeddings),
    reach(v, r) AS (
      SELECT DISTINCT a AS v, a AS r FROM und
      UNION
      SELECT und.b, reach.r FROM reach JOIN und ON und.a = reach.v
    ),
    rep AS (SELECT v AS vec_id, MIN(r) AS cluster_rep FROM reach GROUP BY v)
    SELECT vec_id, cluster_rep,
           CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT)
               AS cluster_size,
           vec_id = cluster_rep AS keep
    FROM rep
    """,
)
def d09(spark, sf):
    """END-TO-END SEMANTIC dedup — d07's embedding twin and the
    SemDeDup paper's actual deliverable ('prune my corpus by meaning'):
    the production-shape pair sweep (s21: fixed k=64 assignment +
    projection-slice cap, cosine ≥ 0.3) → distributed min-label
    connected components over the pair graph with the FULL corpus as
    the vertex spine (a vector with no semantic near-dup is its own
    kept cluster of 1) → min-id canonical + cluster size + the keep
    flag that materializes the pruned corpus.  Composes three verified
    operators; every stage replays in the oracle
    (`operators/embeddings.py:semdedup`,
    `operators/dedup.py:connected_components`)."""
    from duckdb_graphar_spark.operators.dedup import connected_components
    from duckdb_graphar_spark.operators.embeddings import (
        seed_centroids,
        semdedup,
    )

    e = _t(spark, sf, "embeddings")
    # pin the pair pipeline: CC's fast-path probe, the vertex union,
    # and the final join would otherwise re-execute the cluster-and-
    # sweep chain (the d07 discipline)
    pairs = (
        semdedup(e, seed_centroids(e, 64), threshold=0.3, max_cluster_size=10)
        .select(F.col("id_keep").alias("id_a"), F.col("id_drop").alias("id_b"))
        .localCheckpoint(eager=True)
    )
    verts = e.select(F.col("vec_id").alias("v"))
    # groupBy + join for cluster_size (not a count window) — see d07
    cc = connected_components(pairs, verts).localCheckpoint(eager=False)
    sizes = cc.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return cc.join(sizes, "label").select(
        F.col("v").alias("vec_id"),
        F.col("label").alias("cluster_rep"),
        F.col("cluster_size"),
        (F.col("v") == F.col("label")).alias("keep"),
    )


_D10_PAIR_CTES = [
    # s21's pair chain verbatim (the d09 oracle), kept as plain CTEs so
    # the weighted-MSF unroll can consume them as its edge source
    """c AS (
      SELECT embedding AS cv,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 64)
    )""",
    """dd AS (
      SELECT e.vec_id, c.cidx,
             list_sum([CAST((CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
                            AS DECIMAL(38,18))
                       FOR i IN generate_series(1, len(e.embedding))]) AS d2
      FROM embeddings e CROSS JOIN c
    )""",
    """asg AS (
      SELECT vec_id, cidx AS cluster
      FROM (SELECT vec_id, cidx,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cidx ASC) AS rn
            FROM dd)
      WHERE rn = 1
    )""",
    """memb AS (SELECT asg.cluster, e.vec_id, e.embedding
          FROM asg JOIN embeddings e USING (vec_id))""",
    """pr AS (
      SELECT cluster, vec_id, embedding,
             list_sum([CAST(CAST(embedding[i] AS DOUBLE)
                            * (((i - 1) * 2654435761) % 97 - 48)
                            AS DECIMAL(38,12))
                       FOR i IN generate_series(1, len(embedding))]) AS proj
      FROM memb
    )""",
    """mm AS (
      SELECT cluster,
             CAST((row_number() OVER (PARTITION BY cluster
                                      ORDER BY proj, vec_id) - 1) // 10
                  AS BIGINT) AS sub,
             vec_id, embedding
      FROM pr
    )""",
    """prs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS r6
      FROM mm a JOIN mm b ON a.cluster = b.cluster AND a.sub = b.sub
                         AND a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
    )""",
]

_D10_ROUNDS = 4
_D10_CUT = 500_000  # integer micro-distance: keep forest edges with cosine >= 0.5

_D10_POST_CTES = [
    "cutf AS (SELECT a, b FROM ("
    + " UNION ALL ".join(
        f"SELECT a, b, wv FROM pick{r}" for r in range(_D10_ROUNDS)
    )
    + f") WHERE wv <= {_D10_CUT})",
    """und2 AS (SELECT a, b FROM cutf
            UNION SELECT b, a FROM cutf
            UNION SELECT vec_id, vec_id FROM embeddings)""",
    """reachF(v, r) AS (
      SELECT DISTINCT a AS v, a AS r FROM und2
      UNION
      SELECT und2.b, reachF.r FROM reachF JOIN und2 ON und2.a = reachF.v
    )""",
    "repF AS (SELECT v AS vec_id, MIN(r) AS cluster_rep FROM reachF GROUP BY v)",
]


@_q(
    "d10_single_linkage_clusters",
    # ORACLE: the s21 pair chain (d09's CTEs) feeding the weighted
    # Borůvka unroll — weight = round-6 cosine distance in integer
    # micro-units, the SAME near-integer both engines round to — then
    # a threshold cut over the picked forest edges and a recursive
    # closure with per-vector self-loops (the full-corpus spine).
    _msf_oracle(
        _D10_ROUNDS,
        weighted=True,
        edges_sql=(
            "SELECT src, dst, "
            "CAST(ROUND((1 - r6) * 1000000) AS BIGINT) AS wv FROM prs"
        ),
        pre_ctes=_D10_PAIR_CTES,
        post_ctes=_D10_POST_CTES,
        finals_sql=(
            "SELECT vec_id, cluster_rep, "
            "CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT) "
            "AS cluster_size, vec_id = cluster_rep AS keep FROM repF"
        ),
    ),
)
def d10(spark, sf):
    """SINGLE-LINKAGE clustering over embeddings — the dendrogram form
    of d09 and the operation g32's real-weight MSF exists for: the
    production-shape pair sweep (s21: fixed k=64 + projection-slice
    cap, cosine ≥ 0.3) becomes a weighted edge list (weight = cosine
    DISTANCE quantized to integer micro-units — the round-6 value both
    engines compute identically), Borůvka picks the minimum spanning
    forest (single linkage IS the MST), a threshold cut at distance
    ≤ 0.5 drops the weak merges, and CC over the surviving forest
    edges (≤ V−1, never the pair graph) with the full-corpus vertex
    spine yields (vec_id, cluster_rep, cluster_size, keep).  Unlike
    d09's flat CC-at-threshold, the forest's weights ARE the merge
    order: re-cutting at any other threshold is a filter over ≤ V−1
    rows, not a recomputed pair sweep.  Fixed 4-round budget = honest
    partial forest, replayed verbatim by the oracle
    (`operators/embeddings.py:semdedup`,
    `operators/graph.py:minimum_spanning_forest(weight_col)`,
    `operators/dedup.py:connected_components`)."""
    from duckdb_graphar_spark.operators.dedup import connected_components
    from duckdb_graphar_spark.operators.embeddings import (
        seed_centroids,
        semdedup,
    )
    from duckdb_graphar_spark.operators.graph import minimum_spanning_forest

    e = _t(spark, sf, "embeddings")
    pairs = semdedup(e, seed_centroids(e, 64), threshold=0.3, max_cluster_size=10)
    we = pairs.select(
        F.col("id_keep").alias("src"),
        F.col("id_drop").alias("dst"),
        F.round((F.lit(1.0) - F.col("cosine")) * F.lit(1000000.0))
        .cast("long")
        .alias("wv"),
    ).localCheckpoint(eager=True)  # the d07/d09 pin: MSF's rounds would re-run the sweep
    forest = minimum_spanning_forest(
        we, rounds=_D10_ROUNDS, weight_col="wv", src_col="src", dst_col="dst"
    )
    cut = forest.filter(F.col("weight") <= _D10_CUT).select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    )
    verts = e.select(F.col("vec_id").alias("v"))
    # groupBy + join for cluster_size (not a count window) — see d07
    cc = connected_components(cut, verts).localCheckpoint(eager=False)
    sizes = cc.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return cc.join(sizes, "label").select(
        F.col("v").alias("vec_id"),
        F.col("label").alias("cluster_rep"),
        F.col("cluster_size"),
        (F.col("v") == F.col("label")).alias("keep"),
    )


@_q(
    "s23_gram_matrix",
    # ORACLE: the same n·d² product expansion — one IEEE double
    # multiply per (row, i, j), summed exactly as DECIMAL(38,18)
    # (order-independent), rounded 9 at the end; upper triangle only.
    """
    WITH x AS (
      SELECT CAST(i.i AS INTEGER) - 1 AS i,
             CAST(e.embedding[CAST(i.i AS INTEGER)] AS DOUBLE) AS xi,
             e.embedding AS v
      FROM embeddings e,
           UNNEST(generate_series(1, len(e.embedding))) AS i(i)
    ),
    p AS (
      SELECT x.i, CAST(j.j AS INTEGER) - 1 AS j,
             CAST(x.xi * CAST(x.v[CAST(j.j AS INTEGER)] AS DOUBLE)
                  AS DECIMAL(38,18)) AS prod
      FROM x, UNNEST(generate_series(1, len(x.v))) AS j(j)
      WHERE CAST(j.j AS INTEGER) - 1 >= x.i
    )
    SELECT i, j, ROUND(CAST(SUM(prod) AS DOUBLE), 9) AS value
    FROM p GROUP BY i, j
    """,
)
def s23(spark, sf):
    """EXACT Gram matrix G = XᵀX over the embedding corpus — the d×d
    statistic PCA/whitening and covariance screens are built from, and
    the canonical "reduce 100 TB to a d² summary" shape: per-partition
    partial sums (map-side combine) mean the shuffle carries only
    (i, j)-keyed partials and the result is d²-sized regardless of
    corpus size.  Double-posexplode product expansion in pure JVM
    codegen; decimal-exact sums (the q01 discipline), upper triangle
    (`operators/embeddings.py:gram_matrix`)."""
    from duckdb_graphar_spark.operators.embeddings import gram_matrix

    return gram_matrix(_t(spark, sf, "embeddings"))


@_q(
    "q88_observation_metrics",
    # ORACLE: the same aggregates computed directly — the Observation
    # rides the MAIN query's execution (no second scan), so its values
    # must equal a plain aggregate over the rows that actually flowed
    # through the observed node.
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
           CAST(MAX(o_custkey) AS BIGINT) AS max_cust,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(26,8))) AS DOUBLE), 2)
               AS total_price
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q88(spark, sf):
    """The OBSERVATION API (df.observe) — Spark's in-flight pipeline
    telemetry: named aggregates piggyback on the main query's one
    execution (free data-quality counters at 100 TB, vs a second scan
    for audit queries).  The entry observes row count, distinct
    customers, and a decimal-exact price total on a filtered stream of
    orders, drives the query, and returns the observed metrics — which
    must equal the direct aggregate (the oracle)."""
    from pyspark.sql import Observation

    obs = Observation("q88_metrics")
    o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "O")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        # DISTINCT aggregates are rejected in observed metrics (they
        # can't ride a single pass) — min/max are the audit-counter
        # shape the API is built for
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(26,8)")).cast("double"),
            2,
        ).alias("total_price"),
    )
    observed.write.format("noop").mode("overwrite").save()  # drive the query
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["min_cust"]),
                int(m["max_cust"]),
                float(m["total_price"]),
            )
        ],
        "n_rows long, min_cust long, max_cust long, total_price double",
    )


_Q87_SQL = """
WITH sub AS (
  SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL SELECT CAST(NULL AS BIGINT)
)
SELECT
  (SELECT COUNT(*) FROM customer
    WHERE c_custkey NOT IN (SELECT k FROM sub)) AS not_in_count,
  (SELECT COUNT(*) FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = c.c_custkey))
      AS not_exists_count,
  (SELECT COUNT(*) FROM customer
    WHERE c_custkey IN (SELECT k FROM sub)) AS in_count
"""


@_q(
    "q87_not_in_null_semantics",
    # ORACLE: the IDENTICAL query text on DuckDB (the q74/q83
    # discipline) — this entry exists to PIN the standard three-valued
    # NOT IN trap on both engines at once: one NULL in the subquery
    # makes every NOT IN row UNKNOWN (count 0), while the NOT EXISTS
    # twin returns the real anti-join count and IN is unaffected.
    _Q87_SQL,
)
def q87(spark, sf):
    """NULL semantics pin #2 (q79's sibling): `NOT IN (subquery with a
    NULL)` is three-valued — x ≠ NULL is UNKNOWN, so the predicate
    never passes and the count is 0 on every standard engine, the
    single most common silent-wrong-answer trap in warehouse SQL.  The
    entry runs the same text on both engines: NOT IN collapses to 0,
    NOT EXISTS gives the true anti-join count, IN is unaffected —
    documenting that the engine's (and the oracle's) behavior agree on
    the corner, and that users should write NOT EXISTS (Catalyst plans
    it as a clean LeftAnti; NOT IN needs a null-aware anti join)."""
    _t(spark, sf, "customer").createOrReplaceTempView("customer")
    _t(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q87_SQL)


@_q(
    "q86_scd2_apply",
    # ORACLE: STATE EQUIVALENCE (the q78 discipline) — the full
    # gaps-and-islands rebuild over ALL events (q59's oracle verbatim);
    # the Spark path must reach the identical dimension by touching
    # only changed users' open rows.  An extend-vs-close bug, a lost
    # cross-cutoff run merge, or a disturbed closed row all diverge.
    """
    WITH o AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR event_type <> lag(event_type) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run
          FROM o),
    c AS (SELECT user_id, run, MIN(event_type) AS state, MIN(ts) AS valid_from,
                 COUNT(*) AS n_events
          FROM r GROUP BY user_id, run)
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to,
           n_events
    FROM c
    """,
)
def q86(spark, sf):
    """Incremental SCD2 maintenance: the dimension built from events
    before 2024-01-20 has a CDC batch (the events after) APPLIED to it
    — closed history passes through untouched (never re-windowed),
    each changed user's open row re-enters the islands pass as ONE
    synthetic weighted prefix event so cross-cutoff runs merge exactly,
    and the result must equal the full rebuild (the oracle).  The
    warehouse MERGE pattern at O(batch) window cost
    (`operators/events.py:scd2_apply`)."""
    from duckdb_graphar_spark.operators.events import (
        scd2_apply,
        scd2_intervals,
    )

    ev = _t(spark, sf, "events")
    pre = F.expr("ts < TIMESTAMP_NTZ '2024-01-20 00:00:00'")
    dim = scd2_intervals(ev.filter(pre))
    return scd2_apply(dim, ev.filter(~pre))


@_q(
    "q85_time_weighted_average",
    # ORACLE: the integral replays exactly — per-row fixed-point value
    # ROUND(v·10⁴) as BIGINT times the integer µs interval (product
    # < 2⁶³ per row), summed as DECIMAL(38,0) (exact at any scale),
    # one double division at the end.  Interval order pinned by
    # (ts, event_id) — the deterministic LEAD.
    """
    WITH o AS (SELECT user_id, ts, value,
                      LEAD(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS nxt
               FROM events),
    d AS (SELECT user_id,
                 CAST(ROUND(value * 10000) AS BIGINT) AS v,
                 epoch_us(nxt) - epoch_us(ts) AS du
          FROM o WHERE nxt IS NOT NULL)
    SELECT user_id,
           COUNT(*) AS n_intervals,
           CAST(SUM(du) AS BIGINT) AS total_us,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(38,0)) * du) AS DOUBLE)
                 / 10000.0 / CAST(SUM(du) AS DOUBLE), 6) AS twap
    FROM d GROUP BY 1
    """,
)
def q85(spark, sf):
    """TIME-WEIGHTED average over an irregular event stream (the
    finance/telemetry TWAP: each observation holds until the next, so
    the mean is ∫value·dt / ∫dt, not a row average): one LEAD window
    per user for the interval bounds, then a map-combinable aggregate
    over fixed-point value × integer-µs products summed as exact
    decimals — the q01 decimal-sum discipline applied to an integral.
    Scale shape: one shuffle (the per-user window), one partial-agg
    shuffle; no collects."""
    ev = _t(spark, sf, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = Window.partitionBy("user_id").orderBy("__us", "event_id")
    o = ev.select(
        "user_id",
        "event_id",
        us.alias("__us"),
        F.round(F.col("value") * 10000).cast("long").alias("__v"),
    ).withColumn("__nxt", F.lead("__us").over(w))
    d = o.filter(F.col("__nxt").isNotNull()).withColumn(
        "__du", F.col("__nxt") - F.col("__us")
    )
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("__du").cast("long").alias("total_us"),
        F.round(
            F.sum(F.col("__v").cast("decimal(38,0)") * F.col("__du")).cast(
                "double"
            )
            / F.lit(10000.0)
            / F.sum("__du").cast("double"),
            6,
        ).alias("twap"),
    )


@_q(
    "q74_recursive_cte",
    # ORACLE: the IDENTICAL recursive SQL text (modulo the edge-list
    # CTE) — Spark 4 executes WITH RECURSIVE natively, so the bounded
    # 3-hop reachability-with-distance runs as the same declarative
    # query on both engines.  UNION ALL recursion + final MIN collapse
    # = multiplicities don't affect the published distances.
    f"""
    WITH RECURSIVE edges AS ({_E_SQL}),
    reach(v, d) AS (
      SELECT CAST(0 AS BIGINT) AS v, 0 AS d
      UNION ALL
      SELECT e.dst, r.d + 1
      FROM reach r JOIN edges e ON e.src = r.v
      WHERE r.d < 3
    )
    SELECT v, CAST(MIN(d) AS BIGINT) AS dist FROM reach GROUP BY v
    """,
)
def q74(spark, sf):
    """Native WITH RECURSIVE execution (Spark 4): bounded 3-hop
    reachability with hop distance from vertex 0 over the order graph
    — the declarative sibling of g07's driver-looped BFS, run entirely
    inside Catalyst's recursive-CTE operator (each iteration is a
    distributed join on the frontier; the depth guard bounds state).
    The oracle is the SAME query text on DuckDB — engine parity on the
    newest relational surface, not a reimplementation."""
    _edges(spark, sf).createOrReplaceTempView("q74_edges")
    return spark.sql(
        """
        WITH RECURSIVE reach(v, d) AS (
          SELECT CAST(0 AS BIGINT) AS v, 0 AS d
          UNION ALL
          SELECT e.dst, r.d + 1
          FROM reach r JOIN q74_edges e ON e.src = r.v
          WHERE r.d < 3
        )
        SELECT v, CAST(MIN(d) AS BIGINT) AS dist FROM reach GROUP BY v
        """
    )


@_q(
    "q75_variant_json",
    # ORACLE: DuckDB json_extract over the same props strings; the
    # VARIANT path's typed accessor (variant_get '$.k' as int) equals
    # CAST(json_extract(...) AS INTEGER) for integer payloads.
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(COUNT(*) FILTER (CAST(json_extract(props, '$.k') AS INTEGER) > 50) AS BIGINT) AS n_high,
           CAST(MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q75(spark, sf):
    """Semi-structured VARIANT processing (Spark 4's open JSON type):
    `parse_json` once into a VARIANT column, then typed
    `variant_get` accessors feed ordinary map-combinable aggregates —
    the shredded-JSON warehouse pattern (parse once, query many) vs
    per-access string re-parsing.  All-integer outputs, exact
    oracle."""
    ev = _t(spark, sf, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"),
        F.count(F.when(k > 50, 1)).cast("long").alias("n_high"),
        F.min(k).cast("long").alias("min_k"),
        F.max(k).cast("long").alias("max_k"),
    )


@_q(
    "q64_cohort_retention",
    # ORACLE: first-event week per user, then DISTINCT (cohort, offset,
    # user) before the count — the same two-aggregate shape the operator
    # uses instead of a count_distinct Expand.
    """
    WITH ev AS (SELECT user_id AS u,
                       CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS wk
                FROM events),
    f AS (SELECT u, MIN(wk) AS cohort FROM ev GROUP BY u),
    a AS (SELECT DISTINCT f.cohort, ev.wk - f.cohort AS off, ev.u
          FROM ev JOIN f USING (u))
    SELECT CAST(to_timestamp(cohort * 604800) AS TIMESTAMP) AS cohort_start,
           CAST(off AS BIGINT) AS week_offset, COUNT(*) AS n_users
    FROM a GROUP BY 1, 2
    """,
)
def q64(spark, sf):
    """Cohort retention triangle (product-analytics warehouse shape):
    users bucketed by first-event week, distinct-active counts per
    (cohort, week offset) — one min-groupBy, one user-keyed join, two
    map-combinable aggregates, log touched once
    (`operators/events.py:cohort_retention`)."""
    from duckdb_graphar_spark.operators.events import cohort_retention

    return cohort_retention(_t(spark, sf, "events"))


@_q(
    "g17_hits",
    # ORACLE: the two HITS iterations unrolled — authority from previous
    # hubs, hub from NEW authorities, classic half-step order.  The
    # unnormalized variant keeps every score an exact integer sum, so no
    # float discipline exists anywhere; final CASTs collapse DuckDB's
    # HUGEINT sums to BIGINT.
    f"""
    WITH e AS (SELECT DISTINCT src, dst FROM ({_E_SQL})),
    v AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
    a1s AS (SELECT dst AS v, COUNT(*) AS s FROM e GROUP BY dst),
    a1 AS (SELECT v.v, COALESCE(a1s.s, 0) AS a FROM v LEFT JOIN a1s USING (v)),
    h1s AS (SELECT e.src AS v, SUM(a1.a) AS s FROM e JOIN a1 ON a1.v = e.dst GROUP BY e.src),
    h1 AS (SELECT v.v, COALESCE(h1s.s, 0) AS h FROM v LEFT JOIN h1s USING (v)),
    a2s AS (SELECT e.dst AS v, SUM(h1.h) AS s FROM e JOIN h1 ON h1.v = e.src GROUP BY e.dst),
    a2 AS (SELECT v.v, COALESCE(a2s.s, 0) AS a FROM v LEFT JOIN a2s USING (v)),
    h2s AS (SELECT e.src AS v, SUM(a2.a) AS s FROM e JOIN a2 ON a2.v = e.dst GROUP BY e.src),
    h2 AS (SELECT v.v, COALESCE(h2s.s, 0) AS h FROM v LEFT JOIN h2s USING (v))
    SELECT v.v AS id, CAST(h2.h AS BIGINT) AS hub, CAST(a2.a AS BIGINT) AS authority
    FROM v JOIN h2 ON h2.v = v.v JOIN a2 ON a2.v = v.v
    """,
)
def g17(spark, sf):
    """HITS hubs & authorities, 2 fixed iterations, integer-exact
    unnormalized variant (`operators/graph.py:hits`) — per iteration
    two edge⋈score hash joins + map-combinable integer groupBys, the
    pagerank shape with zero float discipline."""
    from duckdb_graphar_spark.operators.graph import hits

    return hits(_edges(spark, sf), n_iters=2, src_col="src", dst_col="dst")


@_q(
    "st11_stream_static_join",
    # ORACLE: the batch twin — events keyed user_id % 25 joined to the
    # nation→region dimension, 1-hour tumbling rollup per region with
    # the decimal-sum discipline (order-independent across micro-batch
    # boundaries, so the completed stream equals this batch SQL).
    """
    SELECT CAST(to_timestamp(b * 3600) AS TIMESTAMP) AS window_start,
           CAST(to_timestamp(b * 3600 + 3600) AS TIMESTAMP) AS window_end,
           r_name, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(26,8))) AS DOUBLE), 6) AS sum_value
    FROM (SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS b, value,
                 user_id % 25 AS nk
          FROM events) ev
    JOIN nation ON n_nationkey = ev.nk
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY 1, 2, 3
    """,
)
def st11(spark, sf):
    """Stream-static dimension enrichment: a REAL running stream joined
    per micro-batch against the static nation→region dimension
    (broadcast hash join, NO streaming state for the dim side — the
    third join shape next to st07's stream-stream), then a 1-hour
    tumbling rollup per region
    (`streaming/ops.py:stream_static_enrich_agg`)."""
    from duckdb_graphar_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_static_enrich_agg,
    )

    dim = (
        _t(spark, sf, "nation")
        .join(_t(spark, sf, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("nk"), "r_name")
    )
    stream = read_events_stream(spark, f"{sf}/events.parquet")
    out = stream_static_enrich_agg(
        stream,
        dim,
        stream_key=F.col("user_id") % 25,
        dim_key="nk",
        group_col="r_name",
        window="1 hour",
    )
    return run_to_memory(out, "st11_out")


def _bpe_round_sql(r: int) -> str:
    """One unrolled BPE round: pair counts over w{r}, best pair b{r},
    merged symbol strings w{r+1} via the same greedy list_reduce fold
    the operator runs (merging a+b = append b without the space)."""
    return f"""
    p{r} AS (SELECT pair, SUM(f) AS wt FROM (
             SELECT unnest([l[i] || ' ' || l[i+1]
                            FOR i IN generate_series(1, len(l)-1)]) AS pair, f
             FROM (SELECT f, string_split(s, ' ') AS l FROM w{r})) GROUP BY pair),
    b{r} AS (SELECT pair, wt FROM p{r} ORDER BY wt DESC, pair LIMIT 1),
    w{r + 1} AS (SELECT w.w, w.f,
                 list_reduce(string_split(w.s, ' '),
                   (acc, x) -> CASE WHEN (acc = split_part(b.pair, ' ', 1)
                                          OR ends_with(acc, ' ' || split_part(b.pair, ' ', 1)))
                                         AND x = split_part(b.pair, ' ', 2)
                                    THEN acc || split_part(b.pair, ' ', 2)
                                    ELSE acc || ' ' || x END) AS s
               FROM w{r} w CROSS JOIN b{r} b)"""


@_q(
    "t30_bpe_train",
    # ORACLE: the 3 merge rounds unrolled; merge application is the
    # IDENTICAL greedy left fold (list_reduce) the operator's
    # `aggregate` HOF runs, so leftmost-first behavior ("a a a" under
    # (a,a) → "aa a") matches by construction, and pair weights are
    # exact integer sums with lexicographic tie-break.
    """
    WITH wf AS (
      SELECT w, COUNT(*) AS f FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    w1 AS (SELECT w, f,
                  array_to_string([w[i] FOR i IN generate_series(1, length(w))], ' ') AS s
           FROM wf),
    """
    + ",".join(_bpe_round_sql(r) for r in (1, 2, 3))
    + """
    SELECT 1 AS rank, pair, CAST(wt AS BIGINT) AS weight FROM b1
    UNION ALL SELECT 2, pair, CAST(wt AS BIGINT) FROM b2
    UNION ALL SELECT 3, pair, CAST(wt AS BIGINT) FROM b3
    """,
)
def t30(spark, sf):
    """BPE tokenizer merge training, 3 rounds, Sennrich-style: merges
    iterate over the word-frequency table (corpus touched ONCE), each
    round is one pair explode + integer groupBy + TakeOrdered(1)
    argmax, merge application is a greedy left fold over symbol
    strings; driver state = one winning pair per round
    (`operators/text.py:bpe_train`)."""
    from duckdb_graphar_spark.operators.text import bpe_train

    return bpe_train(_t(spark, sf, "documents"), n_merges=3)


@_q(
    "t31_bpe_apply",
    # ORACLE: t30's 3 unrolled training rounds produce w4 (per-distinct-
    # word merged symbol strings via the IDENTICAL list_reduce fold);
    # per-word token counts join back to the doc→word table and sum —
    # the same distinct-word application shape the operator plans.
    """
    WITH wf AS (
      SELECT w, COUNT(*) AS f FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    w1 AS (SELECT w, f,
                  array_to_string([w[i] FOR i IN generate_series(1, length(w))], ' ') AS s
           FROM wf),
    """
    + ",".join(_bpe_round_sql(r) for r in (1, 2, 3))
    + """,
    tok AS (SELECT w, len(string_split(s, ' ')) AS nt FROM w4),
    dw AS (SELECT doc_id, w, COUNT(*) AS c FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE w <> '' GROUP BY doc_id, w)
    SELECT doc_id,
           CAST(SUM(c * length(w)) AS BIGINT) AS n_chars,
           CAST(SUM(c * nt) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(c * length(w)) AS DOUBLE)
                 / CAST(SUM(c * nt) AS DOUBLE), 6) AS compression
    FROM dw JOIN tok USING (w) GROUP BY doc_id
    """,
)
def t31(spark, sf):
    """BPE tokenizer APPLICATION — the other half of t30's training:
    train 3 merges (bounded driver state: the merge list IS the model),
    then tokenize the corpus with the fold running once per DISTINCT
    word and an integer join carrying per-word piece counts back to
    documents (`operators/text.py:bpe_apply`).  Returns per-doc
    char/token counts and the compression ratio the merges achieve."""
    from duckdb_graphar_spark.operators.text import bpe_apply, bpe_train

    d = _t(spark, sf, "documents")
    merges = [r["pair"] for r in bpe_train(d, n_merges=3).collect()]
    return bpe_apply(d, merges)


@_q(
    "s12_ivfpq_topk",
    # ORACLE: full IVFADC replay.  The coarse full-dim distance is the
    # EXACT sum of the 4 per-subspace decimals already computed in d
    # (subspaces partition dims 1..64, decimal arithmetic is exact, so
    # order of summation is free); the query's probe cells fall out of
    # the same table at vec_id 0; ADC is s10's chain restricted to rows
    # assigned to probed cells.
    _PQ_BEST_CTE
    + """
    , coarse AS (SELECT vec_id, cidx, SUM(d2) AS cd2 FROM d GROUP BY vec_id, cidx),
    casg AS (SELECT vec_id, cidx AS cluster FROM (
               SELECT vec_id, cidx,
                      row_number() OVER (PARTITION BY vec_id ORDER BY cd2, cidx) AS rn
               FROM coarse) WHERE rn = 1),
    probes AS (SELECT cidx FROM (
                 SELECT cidx, row_number() OVER (ORDER BY cd2, cidx) AS rn
                 FROM coarse WHERE vec_id = 0) WHERE rn <= 2),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ad AS (
      SELECT b.vec_id,
             SUM(list_sum([CAST((CAST(q.qv[b.j*16 + i] AS DOUBLE) - CAST(c2.cv[b.j*16 + i] AS DOUBLE))
                                * (CAST(q.qv[b.j*16 + i] AS DOUBLE) - CAST(c2.cv[b.j*16 + i] AS DOUBLE))
                                AS DECIMAL(38,18)) FOR i IN generate_series(1,16)])) AS a2
      FROM best b JOIN c c2 ON c2.cidx = b.cidx CROSS JOIN q
      WHERE b.rn = 1
        AND b.vec_id IN (SELECT vec_id FROM casg
                         WHERE cluster IN (SELECT cidx FROM probes))
      GROUP BY b.vec_id
    )
    SELECT vec_id, ROUND(CAST(a2 AS DOUBLE), 6) AS approx_dist2
    FROM ad ORDER BY approx_dist2, vec_id LIMIT 10
    """,
)
def s12(spark, sf):
    """IVFADC: coarse inverted-file probe (8 seed cells, n_probe=2,
    probe list computed ENGINE-side by a 1-row decimal-argmin job) +
    codes-only PQ asymmetric-distance top-10 over the candidate cells
    (`operators/embeddings.py:ivfpq_topk`)."""
    from duckdb_graphar_spark.operators.embeddings import ivfpq_topk, seed_centroids

    e = _t(spark, sf, "embeddings")
    coarse = seed_centroids(e, 8)
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return ivfpq_topk(e, coarse, _pq_books(e), q, k=10, n_probe=2)


# ---------------------------------------------------------------------------
# driver entry points
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: revenue by nation
    (6-way join through the star schema)."""
    ship_to_workers(spark)
    return q05(spark, "/root/testdata/sf0.001")


# The correctness driver checks the first 50 entries of this order each
# round, so the order is load-bearing.  The rule the list follows: entries
# whose code changed since their last check lead, newest change first; then
# the entries left unchecked longest; anything unlisted follows in
# definition order.
_PRIORITY = [
    # --- GraphAr entries: every one reads a graph written by
    # --- spark_writer.write_graph_dist, whose file writers were merged
    # --- with the in-process writer's
    "ga01", "ga02", "ga03", "ga04", "ga05", "ga06", "ga07", "ga08", "ga09", "ga10",
    "ga11", "ga12", "ga13", "ga14", "ga15", "ga16", "ga17", "ga18", "ga19", "ga20",
    # --- streaming entries restaged through streaming.ops.
    # --- stage_event_batches that sat outside the window
    "st13", "st15", "st16", "st17", "st18", "st19", "st20", "st21",
    "st22", "st23", "st25", "st26", "st27", "st28", "st30", "u07",
    # --- graph operators whose fixpoint state or per-round probes changed
    "g24", "g25", "g27", "g30", "g31", "g32", "d10", "g21",
    # --- graph operators moved onto the shared loop helpers (BFS sweep,
    # --- fixpoint loop, pins, edge builders) that sat outside the window
    "g07", "g08", "g11", "g12", "g26", "g28", "g29", "g33",
    # --- earlier changed-code entries (sketch/streaming sort key, corpus-
    # --- pass reduction, iterative-graph checkpoint rework, kmeans/PQ) ---
    "q102", "st31",
    "q86", "t28", "q81", "q89", "q90", "q96", "t13", "t27", "t19",
    "s11", "t20", "t15", "g18",
    "g09", "g10", "g13", "g14", "g15", "g16", "g17", "g19", "g34",
    "s05", "s06", "s12", "s21", "d09",
    # --- the stale band, then the oldest probation re-checks ---
    "g20", "g22", "g23",
    "s07", "s08", "s14", "s15", "st12", "st14", "u05",
    "u06",
    "s09", "s10",
    # --- beyond the window: the next stale band ---
    "m01", "q71", "q72", "q73", "q74", "q75", "q76", "q77", "q78",
    "q79", "t35", "t36",
    "m02", "m11", "m12", "m13", "d08",
    "m14", "m15", "m16", "m17", "m18", "m19", "m20", "m21", "m22",
    "m23",
    "q00", "q04", "q06", "q07", "q08", "q09",
    "q80", "q82", "q83", "q84", "q85", "q87", "q88",
    "s16", "s17", "s18", "s19", "s20",
    "t37", "t38", "t39", "t40", "u08",
]



def _ordered_names() -> list[str]:
    def rank(name: str) -> tuple[int, int]:
        prefix = name.split("_", 1)[0]
        try:
            return (0, _PRIORITY.index(prefix))
        except ValueError:
            return (1, 0)

    names = list(_REGISTRY)
    return sorted(names, key=lambda n: (rank(n), names.index(n)))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _REGISTRY[name][0] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: _REGISTRY[name][1]
        for name in _ordered_names()
        if _REGISTRY[name][1] is not None
    }
