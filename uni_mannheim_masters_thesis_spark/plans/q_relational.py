"""Relational-core queries (scans, joins, aggs, windows, set ops, governance, runtime filters).

Mechanically split out of the former single-module registry (round 9):
same queries, same names, same registration semantics — every
``@_register`` call lands in the shared ``REGISTRY`` from
``plans._shared``; ``plans.registry`` re-exports everything and applies
the deterministic driver ordering.
"""

from __future__ import annotations

from ._shared import (
    DataFrame,
    F,
    REGISTRY,
    SparkSession,
    Window,
    _dec,
    _dsum,
    _register,
    _t,
    per_group_first,
    topk_per_group,
)




# =========================================================================
# Relational core (scans, filters, joins, aggs, windows, set ops)
# =========================================================================


@_register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE), 2) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "A4-A6, P-filters, S-scan",
    "TPC-H Q1-style pricing summary: predicate pushdown + 8-agg groupBy.",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = _dec("l_quantity")
    price = _dec("l_extendedprice")
    disc = _dec("l_discount", "decimal(4,2)")
    tax = _dec("l_tax", "decimal(4,2)")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(qty).alias("sum_qty"),
            _dsum(price).alias("sum_base_price"),
            _dsum(price * (F.lit(1) - disc)).alias("sum_disc_price"),
            _dsum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / n, 6).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / n, 6).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / n, 6).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@_register(
    "top_brands_by_revenue",
    """
    SELECT p_brand,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY revenue DESC, p_brand
    LIMIT 10
    """,
    "J4 (broadcast dim join), A-aggs, O4 top-k",
    "Fact-to-dim broadcast join + top-10 brands by exact-decimal revenue.",
)
def q_top_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "decimal(4,2)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(_dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.desc("revenue"), "p_brand")
        .limit(10)
    )


@_register(
    "revenue_by_nation",
    """
    SELECT r_name, n_name,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    "J4/J5 (multi-hop dim joins)",
    "Three-way snowflake join, dims broadcast, grouped revenue.",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(_dec("o_totalprice")).alias("total_revenue"),
        )
    )


@_register(
    "customer_order_class",
    """
    WITH per_cust AS (
        SELECT c_custkey,
               MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS has_f,
               MAX(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS has_any
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    SELECT CASE WHEN has_f = 1 THEN 1 WHEN has_any = 1 THEN 2 ELSE 0 END AS label,
           COUNT(*) AS n_customers
    FROM per_cust GROUP BY 1
    """,
    "J8 (membership classification: two lookups + CASE)",
    "Reference evaluate.py:160-168 membership labeling re-expressed "
    "relationally: label 1/2/0 by order-status membership.",
)
def q_customer_order_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.max(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("has_f"),
            F.max(F.when(F.col("o_orderkey").isNotNull(), 1).otherwise(0)).alias(
                "has_any"
            ),
        )
    )
    return (
        per_cust.select(
            F.when(F.col("has_f") == 1, 1)
            .when(F.col("has_any") == 1, 2)
            .otherwise(0)
            .alias("label")
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_register(
    "first_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS order_ts_us
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
    "J1/O3 (per-group LIMIT 1)",
    "Reference Read_And_Clean.py:114-124 'first triple per context' as a "
    "row_number window; deterministic via (date, key) total order.",
)
def q_first_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    first = per_group_first(
        orders, ["o_custkey"], [F.col("o_orderdate"), F.col("o_orderkey")]
    )
    return first.select(
        "o_custkey", "o_orderkey", F.unix_micros("o_orderdate").alias("order_ts_us")
    )


@_register(
    "top3_lineitems_per_supplier",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
    FROM (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        FROM lineitem
    ) WHERE rn <= 3
    """,
    "O1/O2/O4 (top-k per group)",
    "Per-group descending top-k (reference's sorted topic lists, "
    "polysemous_words.py:82) over a fact table.",
)
def q_top3_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    top = topk_per_group(
        li,
        ["l_suppkey"],
        [F.desc("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")],
        3,
    )
    return top.select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")


@_register(
    "running_order_total",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_total
    FROM orders
    """,
    "§2.9 window (running aggregate)",
    "Cumulative per-customer revenue; exact decimal window sum.",
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(_dec("o_totalprice")).over(w).cast("double"), 2).alias(
            "running_total"
        ),
    )


@_register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "J6 (set difference / anti join)",
    "Reference evaluate.py:135 set difference as a left-anti join.",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@_register(
    "customers_with_both_statuses",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    "J7/D3 (set intersection)",
    "Reference evaluate.py:138 set intersection (INTERSECT dedups).",
)
def q_customers_both_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(o)


@_register(
    "distinct_user_event_pairs",
    "SELECT DISTINCT user_id, event_type FROM events",
    "D2 (distinct)",
    "Set dedup over the events stream table.",
)
def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()


@_register(
    "acctbal_stats_by_segment",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) + 0 AS avg_bal,
           ROUND(STDDEV_SAMP(c_acctbal), 4) AS std_bal,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal
    FROM customer GROUP BY c_mktsegment
    """,
    "A7/A8 (mean ± std, extremes)",
    "Reference supervised_classifier.py:527-537 fold statistics as "
    "grouped aggregates.",
)
def q_acctbal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    n = F.count(F.lit(1))
    return cust.groupBy("c_mktsegment").agg(
        n.alias("n_customers"),
        F.round(F.sum(_dec("c_acctbal")).cast("double") / n, 6).alias("avg_bal"),
        F.round(F.stddev_samp("c_acctbal"), 4).alias("std_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


@_register(
    "region_nation_rollup",
    """
    SELECT r_name, n_name,
           COUNT(*) AS n_customers,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) + 0 AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    "§2.9 grouping sets / rollup",
    "Hierarchical rollup region → nation → grand total.",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum(_dec("c_acctbal")).alias("total_bal"),
        )
    )


@_register(
    "segment_counts_pivot",
    """
    SELECT n_name,
           CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS automobile,
           CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS building,
           CAST(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS furniture,
           CAST(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS household,
           CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS machinery
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    "A9 (class-composition counts) / pivot",
    "Pivot via conditional aggregation (portable across engines).",
)
def q_segment_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")

    def cnt(seg: str) -> F.Column:
        return F.sum(F.when(F.col("c_mktsegment") == seg, 1).otherwise(0)).cast("long")

    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            cnt("AUTOMOBILE").alias("automobile"),
            cnt("BUILDING").alias("building"),
            cnt("FURNITURE").alias("furniture"),
            cnt("HOUSEHOLD").alias("household"),
            cnt("MACHINERY").alias("machinery"),
        )
    )


@_register(
    "order_window_functions",
    """
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER w AS rn,
           LAG(o_orderkey) OVER w AS prev_order,
           LEAD(o_orderkey) OVER w AS next_order,
           NTILE(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "§2.9 window functions (row_number, lag, lead, ntile)",
    "Full ranking/offset window surface over a deterministic total order.",
)
def q_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.ntile(4).over(w).alias("quartile"),
    )


@_register(
    "acctbal_percentiles",
    """
    SELECT c_mktsegment,
           ROUND(quantile_cont(c_acctbal, 0.25), 4) + 0 AS p25,
           ROUND(quantile_cont(c_acctbal, 0.50), 4) + 0 AS p50,
           ROUND(quantile_cont(c_acctbal, 0.75), 4) + 0 AS p75
    FROM customer GROUP BY c_mktsegment
    """,
    "§2.11 quantiles (exact interpolated percentiles)",
    "Exact linear-interpolation percentiles (Spark percentile ≡ DuckDB "
    "quantile_cont).",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(c_acctbal, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(c_acctbal, 0.75)"), 4).alias("p75"),
    )


@_register(
    "iqr_outlier_fences",
    """
    WITH q AS (
        SELECT c_mktsegment,
               quantile_cont(c_acctbal, 0.25) AS q1,
               quantile_cont(c_acctbal, 0.75) AS q3
        FROM customer GROUP BY c_mktsegment
    ),
    f AS (
        SELECT c_mktsegment,
               ROUND(q1 - 1.5 * (q3 - q1), 6) AS lo_fence,
               ROUND(q3 + 1.5 * (q3 - q1), 6) AS hi_fence
        FROM q
    )
    SELECT f.c_mktsegment AS segment,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN c_acctbal < lo_fence OR c_acctbal > hi_fence
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           lo_fence, hi_fence
    FROM customer JOIN f ON customer.c_mktsegment = f.c_mktsegment
    GROUP BY f.c_mktsegment, lo_fence, hi_fence
    """,
    "§2.11 data cleaning (IQR outlier fencing per group)",
    "Tukey outlier fences per segment: exact interpolated Q1/Q3 "
    "(Spark percentile ≡ DuckDB quantile_cont, the acctbal_percentiles "
    "parity), fences ROUNDED to 6 decimals on BOTH engines before the "
    "comparison so the outlier count can never flip on a last-ulp "
    "quantile difference, then one broadcast join of the 5-row fence "
    "table back onto the scan. Two passes over the fact, no shuffle on "
    "the second (fences broadcast). At 100 TB the exact percentile "
    "(which holds per-group values in memory) is the wrong tool — "
    "approx_quantile_sketch is the registered scale path; the fence "
    "join and counting pass are scale-indifferent.",
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    q = cust.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.25)").alias("q1"),
        F.expr("percentile(c_acctbal, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    fences = q.select(
        "c_mktsegment",
        F.round(F.col("q1") - 1.5 * iqr, 6).alias("lo_fence"),
        F.round(F.col("q3") + 1.5 * iqr, 6).alias("hi_fence"),
    )
    out = (
        F.col("c_acctbal") < F.col("lo_fence")
    ) | (F.col("c_acctbal") > F.col("hi_fence"))
    return (
        cust.join(F.broadcast(fences), "c_mktsegment")
        .groupBy(
            F.col("c_mktsegment").alias("segment"), "lo_fence", "hi_fence"
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(out, 1).otherwise(0)).cast("long").alias(
                "n_outliers"
            ),
        )
        .select(
            "segment", "n_rows", "n_outliers", "lo_fence", "hi_fence"
        )
    )


@_register(
    "value_histogram",
    """
    WITH c AS (
        SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS v
        FROM lineitem
    ),
    b AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM c)
    SELECT CAST((c.v - b.lo) * 20 // (b.hi - b.lo + 1) AS BIGINT) AS bin,
           COUNT(*) AS n_rows,
           ROUND(MIN(c.v) / 100.0, 2) AS min_price,
           ROUND(MAX(c.v) / 100.0, 2) AS max_price
    FROM c CROSS JOIN b
    GROUP BY 1
    """,
    "§2.11 data profiling (equi-width histogram, exact integer binning)",
    "Fixed-width 20-bin histogram of extended price — the equi-WIDTH "
    "complement of decile_bucketing's equi-depth bins. Values are "
    "exact integer cents; the bin index ((v-lo)*k) div (hi-lo+1) is "
    "pure integer arithmetic, so bin edges can never drift between "
    "engines the way a float (v-lo)/width would at the boundaries. "
    "Plan: one 1-row bounds aggregate broadcast-crossed onto the scan, "
    "one bin-keyed partial-aggregating shuffle (k=20 groups) — two "
    "passes, no driver collect, the same shape at any scale.",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    v = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    c = li.select(v.alias("v"))
    b = c.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = c.crossJoin(F.broadcast(b)).select(
        F.expr("(v - lo) * 20 div (hi - lo + 1)").cast("long").alias("bin"),
        "v",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("v") / 100.0, 2).alias("min_price"),
        F.round(F.max("v") / 100.0, 2).alias("max_price"),
    )


@_register(
    "order_status_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "§2.9 grouping sets (CUBE)",
    "Full cube over status × priority with exact decimal sums.",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(_dec("o_totalprice")).alias("total_price"),
    )


@_register(
    "value_bucket_range_join",
    """
    SELECT bucket, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
    FROM events
    JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0), ('high', 150.0, 1000000.0))
         b(bucket, lo, hi)
      ON value >= lo AND value < hi
    GROUP BY bucket
    """,
    "§2.11 range join (non-equi band join)",
    "Banding join against a broadcast range dimension — the pattern "
    "behind as-of/range joins at scale.",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e6)],
        ["bucket", "lo", "hi"],
    )
    return (
        ev.join(
            F.broadcast(buckets),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(_dec("value")).alias("sum_value"),
        )
    )


@_register(
    "customers_with_open_order",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
    "J7 (semi join / EXISTS)",
    "Left-semi membership (the EXISTS twin of customers_without_orders).",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@_register(
    "union_all_entity_counts",
    """
    SELECT 'events' AS entity, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events
    UNION ALL
    SELECT 'orders' AS entity, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n FROM orders
    """,
    "D3 (union)",
    "UNION ALL of two aggregated branches.",
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").agg(
        F.lit("events").alias("entity"), F.countDistinct("user_id").alias("n")
    )
    orders = _t(spark, sf_dir, "orders").agg(
        F.lit("orders").alias("entity"), F.countDistinct("o_custkey").alias("n")
    )
    return ev.unionByName(orders)


@_register(
    "supplier_part_reach",
    """
    SELECT s_name,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           COUNT(*) AS n_items
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    HAVING COUNT(DISTINCT l_partkey) >= 5
    """,
    "J2/J3 shape (fact-dim hop + distinct-count + HAVING)",
    "Two-hop reach aggregation (the relational shape of the provenance "
    "traversal on warehouse data).",
)
def q_supplier_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .filter(F.col("n_parts") >= 5)
    )


# =========================================================================
# Batch 3: set operators, grouping sets, source/sink format roundtrips
# (CSV / JSON / gensim dictionary / Matrix Market / model save-load),
# resampling (SMOTE / Tomek), grid search, hold-out transfer, kNN vote,
# IVF ANN, MLP, stateful streaming
# =========================================================================


@_register(
    "nation_presence_intersect",
    """
    SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
    INTERSECT
    SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
    """,
    "J7/D3 (set intersection)",
    "Nations with both customers and suppliers — the evaluate.py:138 "
    "set-intersection pattern as a relational INTERSECT.",
)
def q_nation_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    with_cust = nation.join(
        cust, nation.n_nationkey == cust.c_nationkey
    ).select("n_name")
    with_supp = nation.join(
        supp, nation.n_nationkey == supp.s_nationkey
    ).select("n_name")
    return with_cust.intersect(with_supp)


@_register(
    "nation_presence_except",
    """
    SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
    WHERE c_acctbal < -950
    EXCEPT
    SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
    WHERE s_acctbal < 0
    """,
    "J6/D3 (set difference)",
    "Nations with deep-negative-balance customers but no "
    "negative-balance suppliers — evaluate.py:135 set difference as "
    "relational EXCEPT (set semantics: subtract, not exceptAll).",
)
def q_nation_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < -950)
    supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    with_cust = nation.join(
        cust, nation.n_nationkey == cust.c_nationkey
    ).select("n_name")
    with_supp = nation.join(
        supp, nation.n_nationkey == supp.s_nationkey
    ).select("n_name")
    return with_cust.subtract(with_supp)


@_register(
    "orders_grouping_sets",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
    """,
    "§2.9 (grouping sets)",
    "Multi-granularity aggregate in one pass — Catalyst expands grouping "
    "sets into a single Expand+Aggregate (one shuffle, not three).",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    view = f"orders_gs_{abs(hash(sf_dir)) % 10_000}"
    orders.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
        FROM {view}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
        """
    )


# =========================================================================
# Batch 5: subquery decorrelation, EXISTS, per-group regression,
# applyInPandas grouped map
# =========================================================================


@_register(
    "small_quantity_revenue",
    """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_type = 'PROMO'
      AND l_quantity < (
          SELECT 0.2 * AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
    "§2.9 relational (correlated scalar subquery, TPC-H Q17 shape)",
    "Revenue from small-quantity orders of PROMO parts: the correlated "
    "per-part average is written as a scalar subquery and Catalyst "
    "DECORRELATES it into an aggregate + join (no per-row re-execution) "
    "— visible as one extra shuffle, not |lineitem| subquery runs.",
)
def q_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    li.createOrReplaceTempView("li_q17")
    part.createOrReplaceTempView("part_q17")
    return spark.sql(
        """
        SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
        FROM li_q17 JOIN part_q17 ON p_partkey = l_partkey
        WHERE p_type = 'PROMO'
          AND l_quantity < (
              SELECT 0.2 * AVG(l_quantity) FROM li_q17 l2 WHERE l2.l_partkey = p_partkey
          )
        """
    )


@_register(
    "orders_with_returns_exists",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
    )
    GROUP BY o_orderpriority
    """,
    "§2.9 relational (correlated EXISTS, TPC-H Q4 shape)",
    "Orders having at least one returned lineitem, counted per priority "
    "— the correlated EXISTS plans as a LEFT SEMI join (one pass, no "
    "row-at-a-time probing).",
)
def q_orders_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(
            returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@_register(
    "segment_balance_unpivot",
    """
    WITH agg AS (
        SELECT c_mktsegment,
               ROUND(CAST(SUM(CASE WHEN c_acctbal >= 0 THEN CAST(c_acctbal AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS pos_bal,
               ROUND(CAST(SUM(CASE WHEN c_acctbal < 0 THEN CAST(c_acctbal AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE), 2) + 0 AS neg_bal
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment AS segment, kind, amount
    FROM agg UNPIVOT (amount FOR kind IN (pos_bal, neg_bal))
    """,
    "§2.9 relational (unpivot / melt)",
    "Wide→long reshape: per-segment positive/negative balance columns "
    "unpivoted to (segment, kind, amount) rows — the inverse of the "
    "pivot query, via DataFrame.unpivot (Expand, no shuffle).",
)
def q_segment_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    agg = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        _dsum(F.when(F.col("c_acctbal") >= 0, _dec("c_acctbal")).otherwise(
            F.lit(0).cast("decimal(18,2)"))).alias("pos_bal"),
        _dsum(F.when(F.col("c_acctbal") < 0, _dec("c_acctbal")).otherwise(
            F.lit(0).cast("decimal(18,2)"))).alias("neg_bal"),
    )
    return agg.unpivot(
        ids=["segment"],
        values=["pos_bal", "neg_bal"],
        variableColumnName="kind",
        valueColumnName="amount",
    )


@_register(
    "shipping_priority",
    """
    SELECT l_orderkey,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2) AS revenue,
           epoch_us(o_orderdate) AS orderdate_us,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    "§2.9 relational (TPC-H Q3 shape: 3-way join, date predicates, top-k)",
    "Shipping priority: segment-filtered customers ⋈ orders ⋈ lineitem "
    "with date range predicates pushed to both fact scans, grouped "
    "revenue, deterministic top-10.",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _dsum(
                _dec("l_extendedprice") * (1 - _dec("l_discount", "decimal(4,2)"))
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros("o_orderdate").alias("orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@_register(
    "rolling_week_order_value",
    """
    SELECT o_custkey, CAST(epoch_us(o_orderdate) AS BIGINT) AS orderdate_us,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                       RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
             AS week_value
    FROM orders WHERE o_custkey < 100
    """,
    "§2.9 windows (RANGE frame over event time)",
    "Per-customer rolling 7-day order value: a RANGE frame bounded by a "
    "time interval — value-based framing (peer rows by timestamp), "
    "unlike the ROWS frames elsewhere; one shuffle on the partition key.",
)
def q_rolling_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    view = "orders_range_frame"
    orders.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT o_custkey, CAST(unix_micros(o_orderdate) AS BIGINT) AS orderdate_us,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                           RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
                 AS week_value
        FROM {view}
        """
    )


@_register(
    "approx_distinct_sketch",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_contract
    FROM events GROUP BY event_type
    """,
    "§2.11 sketches (HyperLogLog approx distinct)",
    "approx_count_distinct (HLL, rsd=0.05) vs exact COUNT(DISTINCT) per "
    "event type: at 100 TB the sketch is the only mergeable "
    "constant-memory option. Oracle-checked via the accuracy CONTRACT: "
    "the relation carries the exact count plus a within_contract flag "
    "(relative error ≤ 3×rsd); DuckDB asserts the exact counts and "
    "predicts the flag TRUE, so an HLL regression past the bound flips "
    "the flag and breaks the hash. (The raw estimate is "
    "engine-specific, hence not hashed directly.)",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("approx_users"),
    )
    return out.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.15
        ).alias("within_contract"),
    )


@_register(
    "approx_quantile_sketch",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS exact_p50,
           TRUE AS within_contract
    FROM events GROUP BY event_type
    """,
    "§2.11 sketches (mergeable approximate quantiles)",
    "percentile_approx (Greenwald-Khanna sketch, accuracy 1000) vs "
    "exact interpolated median per event type: at 100 TB an exact "
    "quantile needs a full sort per group, while the sketch is a "
    "constant-memory mergeable aggregate (one map-side pass + combiner "
    "merge). Oracle-checked via the accuracy CONTRACT: the relation "
    "carries the exact interpolated median (identical semantics to "
    "DuckDB quantile_cont) plus a within_contract flag (relative error "
    "≤ 5%); a sketch regression flips the flag and breaks the hash.",
)
def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50"),
        F.expr("percentile_approx(value, 0.5, 1000)").alias("approx_p50"),
    )
    return out.select(
        "event_type",
        "exact_p50",
        (
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            / F.abs(F.col("exact_p50"))
            <= 0.05
        ).alias("within_contract"),
    )


@_register(
    "cross_source_containment",
    """
    WITH fp AS (
        SELECT source, md5(text) AS f FROM documents
    ),
    firsts AS (SELECT f, MIN(source) AS first_source FROM fp GROUP BY f)
    SELECT fp.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN fp.source > firsts.first_source THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_prior,
           ROUND(CAST(SUM(CASE WHEN fp.source > firsts.first_source THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS carryover_ratio
    FROM fp JOIN firsts USING (f)
    GROUP BY fp.source
    """,
    "§2.11 dedup (incremental cross-snapshot containment)",
    "Incremental-crawl dedup accounting: sources ordered "
    "lexicographically stand in for successive snapshots; a doc whose "
    "exact fingerprint already appeared in an earlier snapshot is "
    "carryover, not new data. One fingerprint aggregation + one "
    "fingerprint-key join — both shuffle on md5(text) (never the full "
    "text), the same movement-minimizing shape as dedup_stats_by_source.",
)
def q_cross_source_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select("source", F.md5("text").alias("f"))
    firsts = fp.groupBy("f").agg(F.min("source").alias("first_source"))
    dup = (F.col("source") > F.col("first_source")).cast("int")
    return (
        fp.join(firsts, "f")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dup).cast("long").alias("n_dup_prior"),
            F.round(F.sum(dup).cast("double") / F.count(F.lit(1)), 6).alias(
                "carryover_ratio"
            ),
        )
    )


# -------------------------------------------------------------------------
# Skew-safe join (operators/relational.py:salted_join surfaced)
# -------------------------------------------------------------------------


@_register(
    "skewed_join_salted",
    """
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    "§2.11 skew-safe joins (manual salting beyond AQE)",
    "The event log's user_id key is Zipf-ish (power users hold a "
    "disproportionate share of events); a plain shuffle join lands "
    "each hot key on ONE reducer. salted_join "
    "(operators/relational.py) spreads every large-side row across "
    "n_salts=8 sub-keys via a deterministic full-row hash and "
    "explodes the small dim x8 so all pairs still meet — the manual "
    "skew spread for when AQE's skew splitting isn't enough (AQE "
    "splits oversized PARTITIONS; a single hot KEY inside one "
    "partition is indivisible without a salt). The oracle is the "
    "PLAIN join: salting must be a pure physical rewrite with "
    "byte-identical results. At 100 TB the x8 dim replication is "
    "noise (dims are MBs) while the hot-key reducer ceiling drops "
    "8x.",
)
def q_skewed_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import salted_join

    ev = _t(spark, sf_dir, "events")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        salted_join(ev, dim, "user_id", n_salts=8)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(_dec("value")).alias("total_value"),
        )
    )


# -------------------------------------------------------------------------
# Bloom-filter semi-join pruning (operators/sketches.py surfaced)
# -------------------------------------------------------------------------


@_register(
    "bloom_semijoin_pruning",
    """
    SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
                 2) AS total_price
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey
                    AND c.c_mktsegment = 'BUILDING'
                    AND c.c_acctbal > 9000)
    GROUP BY o_orderpriority
    """,
    "§2.11 runtime filters (bloom-filter semi-join pruning)",
    "The runtime-filter pattern behind every selective fact-dim semi "
    "join at scale: the build side (high-balance BUILDING customers) "
    "folds DISTRIBUTED into a bloom bitset via a bit_or monoid "
    "aggregate (operators/sketches.py:bloom_build — auto-sized from "
    "an approx_count_distinct of the build side at ~16 bits/key, so "
    "the fill factor stays useful instead of saturating, and it works "
    "where a broadcast hash relation can't), and the probe side "
    "pre-filters with a row-local "
    "whole-stage-codegen predicate BEFORE any exchange "
    "(bloom_might_contain: the bitset rides the plan as an array "
    "literal). The exact semi join behind it removes the (possible) "
    "false positives, so the oracle is the PLAIN EXISTS semi join — "
    "the bloom must be a pure physical pre-filter with byte-identical "
    "results; one false NEGATIVE (a dropped order) breaks the hash. "
    "At 100 TB the win is shuffle-input reduction: orders rows that "
    "cannot match never enter the semi-join exchange.",
)
def q_bloom_semijoin_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bloom_build, bloom_might_contain

    keys = (
        _t(spark, sf_dir, "customer")
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("c_acctbal") > 9000)
        )
        .select(F.col("c_custkey").alias("k"))
    )
    words = bloom_build(keys, "k")
    orders = _t(spark, sf_dir, "orders")
    candidates = orders.filter(
        bloom_might_contain(F.col("o_custkey"), words)
    )
    exact = candidates.join(
        keys, candidates["o_custkey"] == keys["k"], "left_semi"
    )
    return exact.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(_dec("o_totalprice")).alias("total_price"),
    )


# -------------------------------------------------------------------------
# Data-quality expectations (operators/expectations.py surfaced)
# -------------------------------------------------------------------------


@_register(
    "data_quality_expectations",
    """
    WITH m AS (
        SELECT 'completeness_o_custkey' AS constraint_name,
               CAST(COUNT(o_custkey) AS DOUBLE) / COUNT(*) AS metric,
               CAST(1.0 AS DOUBLE) AS threshold FROM orders
        UNION ALL
        SELECT 'completeness_o_orderdate',
               CAST(COUNT(o_orderdate) AS DOUBLE) / COUNT(*),
               CAST(1.0 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'uniqueness_o_orderkey',
               CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(*),
               CAST(1.0 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'compliance_totalprice_positive',
               CAST(SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*),
               CAST(1.0 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'membership_orderstatus',
               CAST(SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 1
                             ELSE 0 END) AS DOUBLE) / COUNT(*),
               CAST(1.0 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'compliance_priority_format',
               CAST(SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                             THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
               CAST(1.0 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'distribution_status_F_share',
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*),
               CAST(0.25 AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'ref_integrity_o_custkey',
               CAST(SUM(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*),
               CAST(1.0 AS DOUBLE)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT constraint_name, metric, threshold,
           metric >= threshold AS passed
    FROM m
    """,
    "§2.11 data-quality expectations (declarative constraint suite)",
    "The Deequ/Great-Expectations admission gate a 100 TB ingest runs "
    "before data enters the lake: a SUITE of declared constraints "
    "(completeness, key uniqueness, value compliance, set membership, "
    "format regex, distribution floor) validated in ONE aggregation "
    "pass — every metric is a commutative partial aggregate, so the "
    "whole suite costs a single map-side-combined exchange of one row "
    "regardless of table size or suite length "
    "(operators/expectations.py). Referential integrity (every "
    "o_custkey resolves in customer) is the one join-shaped check: a "
    "broadcast left join folded to the same one-row fraction. Metrics "
    "are CAST(exact-int AS DOUBLE)/COUNT(*) — one IEEE division, "
    "bit-identical distributed vs sequential, so the suite hashes "
    "against the oracle with NO rounding rescue; the pass/fail flags "
    "ride the same hash.",
)
def q_data_quality_expectations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.expectations import (
        completeness,
        compliance,
        referential_integrity,
        run_checks,
        uniqueness,
    )

    o = _t(spark, sf_dir, "orders")
    suite = [
        completeness("completeness_o_custkey", "o_custkey"),
        completeness("completeness_o_orderdate", "o_orderdate"),
        uniqueness("uniqueness_o_orderkey", "o_orderkey"),
        compliance(
            "compliance_totalprice_positive", F.col("o_totalprice") > 0
        ),
        compliance(
            "membership_orderstatus",
            F.col("o_orderstatus").isin("O", "F", "P"),
        ),
        compliance(
            "compliance_priority_format",
            F.col("o_orderpriority").rlike("^[1-5]-"),
        ),
        compliance(
            "distribution_status_F_share",
            F.col("o_orderstatus") == "F",
            threshold=0.25,
        ),
    ]
    ref = referential_integrity(
        o, _t(spark, sf_dir, "customer"), "o_custkey", "c_custkey",
        "ref_integrity_o_custkey",
    )
    return run_checks(o, suite).unionByName(ref)


# -------------------------------------------------------------------------
# Approximate-quantile sketch contract (GK percentile_approx)
# -------------------------------------------------------------------------

_AQ_PROBS = (0.25, 0.5, 0.9, 0.99)
_AQ_ACCURACY = 1000  # GK sketch: rank error <= n / accuracy


@_register(
    "approx_quantile_contract",
    """
    WITH t AS (SELECT o_totalprice FROM orders)
    """
    + "\nUNION ALL\n".join(
        f"""
    SELECT CAST({p} AS DOUBLE) AS prob,
           ROUND(quantile_cont(o_totalprice, {p}), 4) + 0 AS exact_value,
           TRUE AS ok_rank_error
    FROM t"""
        for p in _AQ_PROBS
    ),
    "§2.11 sketches (Greenwald-Khanna approximate quantiles, "
    "rank-error contract)",
    "The single-pass mergeable-quantile path for 100 TB profiling: "
    "percentile_approx (Spark's Greenwald-Khanna sketch — bounded "
    "memory, map-side mergeable, one exchange of sketch state) "
    "checked against its published guarantee. The engine computes the "
    "approximate quantiles, then measures each answer's TRUE rank "
    "with conditional sums (the approx values fold into the plan as "
    "literals — one extra scan, no join) and asserts "
    "|rank - p*n| <= n/accuracy + 1. The hashed output carries the "
    "EXACT interpolated percentiles (Spark percentile ≡ DuckDB "
    "quantile_cont, the acctbal_percentiles parity) plus the "
    "genuinely-computed ok flags, so a sketch drifting outside its "
    "rank bound — or an exact-percentile divergence — breaks the "
    "hash. The exact twin is the verification path; at scale only "
    "the sketch runs.",
)
def q_approx_quantile_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_totalprice")
    first = o.agg(
        F.percentile_approx(
            "o_totalprice", list(_AQ_PROBS), _AQ_ACCURACY
        ).alias("a"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    approx, n = first["a"], first["n"]  # O(len(probs)) driver values
    eps = n / float(_AQ_ACCURACY) + 1.0
    agged = o.agg(
        *[
            F.sum((F.col("o_totalprice") <= F.lit(float(a))).cast("long"))
            .alias(f"__r{i}")
            for i, a in enumerate(approx)
        ],
        *[
            F.expr(f"percentile(o_totalprice, {p})").alias(f"__e{i}")
            for i, p in enumerate(_AQ_PROBS)
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(p).cast("double").alias("prob"),
                F.round(F.col(f"__e{i}"), 4).alias("exact_value"),
                (
                    F.abs(F.col(f"__r{i}").cast("double") - F.lit(p * n))
                    <= F.lit(eps)
                ).alias("ok_rank_error"),
            )
            for i, p in enumerate(_AQ_PROBS)
        ]
    )
    return agged.select(F.explode(rows).alias("r")).select(
        "r.prob", "r.exact_value", "r.ok_rank_error"
    )


# -------------------------------------------------------------------------
# Rendezvous (HRW) sharding + exact-k stratified sampling
# -------------------------------------------------------------------------

_HRW_N = 8  # baseline shard count; the contract checks the N -> N+1 step


def _hrw_score(doc_id: F.Column, shard: int) -> F.Column:
    """Highest-random-weight score of (key, shard): the first 8 hex
    digits of md5(key || '/' || shard) as an integer — exact integer
    math, engine-portable (the mixture_sampling draw discipline)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(doc_id.cast("string"), F.lit(f"/{shard}"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")


def _hrw_shard(doc_id: F.Column, n_shards: int) -> F.Column:
    """argmax_s score(key, s) via array_max over (score, shard)
    structs — ties (never at 32-bit scores, but defined anyway) break
    toward the larger shard id, matching the oracle's ORDER BY score
    DESC, shard DESC."""
    return F.array_max(
        F.array(
            *[
                F.struct(
                    _hrw_score(doc_id, s).alias("score"),
                    F.lit(s).cast("int").alias("shard"),
                )
                for s in range(n_shards)
            ]
        )
    )["shard"]


@_register(
    "rendezvous_sharding",
    f"""
    WITH a8 AS (
        SELECT doc_id, shard AS shard8 FROM (
            SELECT d.doc_id, t.s AS shard,
                   row_number() OVER (
                       PARTITION BY d.doc_id
                       ORDER BY ('0x' || substring(md5(
                                     CAST(d.doc_id AS VARCHAR) || '/' ||
                                     CAST(t.s AS VARCHAR)), 1, 8))::BIGINT
                                DESC, t.s DESC) AS rn
            FROM documents d CROSS JOIN generate_series(0, {_HRW_N - 1})
                 AS t(s)
        ) WHERE rn = 1
    ),
    a9 AS (
        SELECT doc_id, shard AS shard9 FROM (
            SELECT d.doc_id, t.s AS shard,
                   row_number() OVER (
                       PARTITION BY d.doc_id
                       ORDER BY ('0x' || substring(md5(
                                     CAST(d.doc_id AS VARCHAR) || '/' ||
                                     CAST(t.s AS VARCHAR)), 1, 8))::BIGINT
                                DESC, t.s DESC) AS rn
            FROM documents d CROSS JOIN generate_series(0, {_HRW_N})
                 AS t(s)
        ) WHERE rn = 1
    )
    SELECT a8.shard8 AS shard, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN a9.shard9 <> a8.shard8 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved_out,
           SUM(CASE WHEN a9.shard9 <> a8.shard8
                     AND a9.shard9 <> {_HRW_N} THEN 1 ELSE 0 END) = 0
               AS ok_moves_to_new
    FROM a8 JOIN a9 USING (doc_id)
    GROUP BY a8.shard8
    """,
    "§2.11 training-data ops (rendezvous/HRW consistent sharding)",
    "Stable shard assignment for a corpus that outlives its cluster "
    "topology: each key goes to argmax_s md5(key || shard) — "
    "highest-random-weight hashing, computed as a row-local "
    "whole-stage-codegen array_max (no shuffle, no shard ring state). "
    "The query assigns every document at N=8 AND N=9 shards and "
    "hash-verifies HRW's minimal-movement theorem per shard: a "
    "resize from 8 to 9 may move keys ONLY onto the new shard "
    "(ok_moves_to_new), never between survivors — the property that "
    "makes shard-count changes cheap at 100 TB (an N->N+1 resize "
    "relocates ~1/(N+1) of the data, vs nearly all of it under "
    "key % N). Scores are exact 32-bit integers from md5 prefixes, "
    "so assignment is engine-portable and the oracle recomputes it "
    "bit-for-bit.",
)
def q_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id")
    assigned = d.select(
        "doc_id",
        _hrw_shard(F.col("doc_id"), _HRW_N).alias("shard8"),
        _hrw_shard(F.col("doc_id"), _HRW_N + 1).alias("shard9"),
    )
    moved = F.col("shard9") != F.col("shard8")
    return assigned.groupBy(F.col("shard8").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(moved.cast("long")).alias("n_moved_out"),
        (
            F.sum(
                (moved & (F.col("shard9") != _HRW_N)).cast("long")
            )
            == 0
        ).alias("ok_moves_to_new"),
    )


_STRAT_K = 10  # exact per-stratum sample quota


@_register(
    "stratified_sample_exact",
    f"""
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY ('0x' || substring(md5(
                                 'strat/' || CAST(doc_id AS VARCHAR)),
                             1, 8))::BIGINT, doc_id) AS rn
        FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rn <= {_STRAT_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN rn <= {_STRAT_K} THEN doc_id ELSE 0 END)
                AS BIGINT) AS sel_checksum
    FROM r GROUP BY source
    """,
    "§2.11 training-data ops (exact-k stratified reservoir sample)",
    "Deterministic without-replacement sampling with an exact per-"
    "stratum quota: every document draws a content-stable md5 rank "
    "and each source keeps its k lowest — the distributed equivalent "
    "of a per-stratum reservoir, with NO rand() (reproducible across "
    "runs, engines, and partitionings; the same draw discipline as "
    "mixture_sampling_manifest, which does RATE-based Bernoulli "
    "sampling — this is its exact-count complement for quota-balanced "
    "eval/calibration sets). One partitioned window per stratum (never "
    "global), one aggregation; the hashed output pins the selected "
    "membership itself via a doc_id checksum, so one swapped sample "
    "breaks the hash.",
)
def q_stratified_sample_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    draw = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("strat/"), F.col("doc_id").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    w = Window.partitionBy("source").orderBy(draw.asc(), F.col("doc_id"))
    r = d.withColumn("__rn", F.row_number().over(w))
    sel = F.col("__rn") <= _STRAT_K
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(sel.cast("long")).alias("n_sampled"),
        F.sum(F.when(sel, F.col("doc_id")).otherwise(0)).alias(
            "sel_checksum"
        ),
    )


@_register(
    "quality_quarantine_split",
    """
    WITH tagged AS (
        SELECT *,
               CASE WHEN o_totalprice <= 0 THEN 'nonpositive_price'
                    WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 'bad_status'
                    WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                         THEN 'bad_priority'
                    WHEN o_custkey IS NULL THEN 'null_custkey'
                    WHEN o_totalprice > 450000.0 THEN 'price_outlier'
                    ELSE 'ok' END AS reason
        FROM orders
    )
    SELECT reason, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM tagged GROUP BY reason
    """,
    "§2.11 data quality (row-level quarantine routing)",
    "The row-level complement of the aggregate expectation suite: "
    "every record is tagged with its FIRST failing rule (a CASE "
    "cascade — one map-side pass, whole-stage codegen, no shuffle "
    "until the per-reason accounting), so bad rows route to a "
    "quarantine sink with a reason while clean rows flow on — the "
    "split every ingest pipeline puts in front of the lake. The "
    "hashed output pins per-reason counts AND an order-key checksum, "
    "so one row routed to the wrong bucket breaks the hash. At "
    "100 TB this is a zero-extra-scan tag on the existing ingest "
    "pass; the quarantine side is typically 1e-4 of volume and "
    "writes to its own partition.",
)
def q_quality_quarantine_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    reason = (
        F.when(F.col("o_totalprice") <= 0, "nonpositive_price")
        .when(~F.col("o_orderstatus").isin("O", "F", "P"), "bad_status")
        .when(
            ~F.col("o_orderpriority").rlike("^[1-5]-"), "bad_priority"
        )
        .when(F.col("o_custkey").isNull(), "null_custkey")
        .when(F.col("o_totalprice") > 450000.0, "price_outlier")
        .otherwise("ok")
    )
    return (
        o.withColumn("reason", reason)
        .groupBy("reason")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_checksum"),
        )
    )


@_register(
    "skew_detection_report",
    """
    WITH k AS (
        SELECT 'events.user_id' AS key_name,
               CAST(user_id AS VARCHAR) AS key FROM events
        UNION ALL
        SELECT 'lineitem.l_orderkey', CAST(l_orderkey AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'orders.o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
    ),
    f AS (
        SELECT key_name, key, COUNT(*) AS n FROM k GROUP BY key_name, key
    )
    SELECT key_name,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(n) AS BIGINT) AS max_key_rows,
           FLOOR(MAX(n) * COUNT(*) * 10000.0 / SUM(n) + 0.5) / 10000
               AS skew_factor,
           MAX(n) * COUNT(*) * 1.0 / SUM(n) > 4.0 AS needs_salting
    FROM f GROUP BY key_name
    """,
    "§2.11 ops tooling (join-key skew detection report)",
    "The diagnostic that decides when skewed_join_salted's manual "
    "salting (or AQE skew split) is worth invoking: for each join-key "
    "family, one aggregation pass computes the hot-key ceiling "
    "(max single-key rows — the indivisible reducer floor a plain "
    "shuffle join hits) and the skew factor max/mean; keys above the "
    "4x advisory threshold get flagged. Two stacked exchanges of "
    "(key, partial count) pairs — the report costs one pass per key "
    "family regardless of table size, and at 100 TB it runs on a "
    "sample or the stats store first. skew_factor is quantized "
    "mode-free (floor(x*1e4+0.5)) for engine parity.",
)
def q_skew_detection_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    fams = [
        ("events.user_id", _t(spark, sf_dir, "events"), "user_id"),
        ("lineitem.l_orderkey", _t(spark, sf_dir, "lineitem"),
         "l_orderkey"),
        ("orders.o_custkey", _t(spark, sf_dir, "orders"), "o_custkey"),
    ]
    parts = [
        t.select(
            F.lit(name).alias("key_name"),
            F.col(col).cast("string").alias("key"),
        )
        for name, t, col in fams
    ]
    k = parts[0]
    for p in parts[1:]:
        k = k.unionByName(p)
    f = k.groupBy("key_name", "key").agg(F.count(F.lit(1)).alias("n"))
    ratio = (
        F.max("n") * F.count(F.lit(1)) * F.lit(1.0) / F.sum("n")
    )
    return f.groupBy("key_name").agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_key_rows"),
        (
            F.floor(
                F.max("n") * F.count(F.lit(1)) * F.lit(10000.0)
                / F.sum("n")
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("skew_factor"),
        (ratio > 4.0).alias("needs_salting"),
    )


@_register(
    "join_cardinality_estimate",
    """
    WITH ec AS (SELECT user_id AS k, COUNT(*) AS n FROM events
                GROUP BY user_id),
    cc AS (SELECT c_custkey AS k, COUNT(*) AS n FROM customer
           GROUP BY c_custkey),
    pred AS (
        SELECT CAST(SUM(ec.n * cc.n) AS BIGINT) AS predicted_rows,
               CAST(COUNT(*) AS BIGINT) AS n_join_keys,
               CAST(MAX(ec.n * cc.n) AS BIGINT) AS max_key_contribution
        FROM ec JOIN cc USING (k)
    ),
    act AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    )
    SELECT predicted_rows, actual_rows, n_join_keys,
           max_key_contribution,
           predicted_rows = actual_rows AS ok_exact
    FROM pred CROSS JOIN act
    """,
    "§2.11 ops tooling (join cardinality estimation from key "
    "histograms)",
    "The planner question answered before the join runs: the output "
    "size of events JOIN customer is exactly the dot product of the "
    "two sides' per-key count vectors — computed from two partial-"
    "aggregated key histograms joined on the key (narrow (key, count) "
    "tuples, never payloads). The engine then RUNS the join and "
    "hashes prediction == actual, plus the max single-key "
    "contribution (the same hot-key ceiling the skew report flags — "
    "a fan-out misprediction here is how shuffle-explosion joins "
    "sneak into production). At 100 TB the histograms come from a "
    "sample or the stats store and this exact contract is the "
    "offline calibration check.",
)
def q_join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    ec = ev.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).alias("en")
    )
    cc = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cn")
    )
    pred = ec.join(cc, "k").agg(
        F.sum(F.col("en") * F.col("cn")).alias("predicted_rows"),
        F.count(F.lit(1)).alias("n_join_keys"),
        F.max(F.col("en") * F.col("cn")).alias("max_key_contribution"),
    )
    act = ev.join(cust, ev["user_id"] == cust["c_custkey"]).agg(
        F.count(F.lit(1)).alias("actual_rows")
    )
    return pred.crossJoin(act).select(
        "predicted_rows",
        "actual_rows",
        "n_join_keys",
        "max_key_contribution",
        (F.col("predicted_rows") == F.col("actual_rows")).alias(
            "ok_exact"
        ),
    )


@_register(
    "ranking_function_surface",
    """
    WITH r AS (
        SELECT c_mktsegment AS segment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey)
                   AS sel,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk,
               ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
               ROUND(CUME_DIST() OVER w, 6) AS cdist,
               NTILE(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey)
                   AS quartile
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
    )
    SELECT segment, c_custkey, ROUND(c_acctbal, 2) + 0 AS acctbal,
           CAST(rnk AS BIGINT) AS rnk, CAST(drnk AS BIGINT) AS drnk,
           prnk, cdist, quartile
    FROM r WHERE sel <= 3
    """,
    "§2.9 windows (full ranking-function surface)",
    "The five SQL ranking functions over one partitioned window "
    "family: rank / dense_rank (value-tie sensitive, ordered by the "
    "measure alone), percent_rank and cume_dist (their normalized "
    "forms — one exact-integer division each, so they hash with no "
    "rounding rescue beyond display), and ntile (which NEEDS the "
    "total tie-broken order to be deterministic — ordered by "
    "(measure, key)). Selection is a separate row_number on the "
    "total order. Every window is partitioned by segment — one "
    "exchange, three sorts, zero global windows (the indexing.py "
    "rule) — and DuckDB runs the identical window program.",
)
def q_ranking_function_surface(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"), "c_custkey", "c_acctbal"
    )
    w_total = Window.partitionBy("segment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w_val = Window.partitionBy("segment").orderBy(
        F.col("c_acctbal").desc()
    )
    r = c.select(
        "segment",
        "c_custkey",
        "c_acctbal",
        F.row_number().over(w_total).alias("sel"),
        F.rank().over(w_val).alias("rnk"),
        F.dense_rank().over(w_val).alias("drnk"),
        F.round(F.percent_rank().over(w_val), 6).alias("prnk"),
        F.round(F.cume_dist().over(w_val), 6).alias("cdist"),
        F.ntile(4).over(w_total).alias("quartile"),
    )
    return r.filter(F.col("sel") <= 3).select(
        "segment",
        "c_custkey",
        (F.round("c_acctbal", 2) + F.lit(0.0)).alias("acctbal"),
        F.col("rnk").cast("long"),
        F.col("drnk").cast("long"),
        "prnk",
        "cdist",
        "quartile",
    )


@_register(
    "plan_invariant_audit",
    None,  # rows-only: physical-plan shapes have no SQL twin
    "§2.11 ops tooling (runtime physical-plan invariant audit)",
    "The repo's plan discipline surfaced as a QUERY instead of only a "
    "pytest: a panel of registered queries is PLANNED (never "
    "executed) and each one's executed-plan string is checked against "
    "the scale invariant its docstring claims — the bucketed join "
    "must consume its on-disk partitioning (no join-key exchange), "
    "the bloom probe must be a join-free row-local filter, "
    "hard-negative mining must stay window-free, the salted join "
    "must actually carry the salt, and the nearest as-of join must "
    "ride ONE key exchange. A Catalyst upgrade or a careless edit "
    "that silently re-plans any of these flips its ok_ flag in the "
    "driver's artifact — plan regressions become data, not just CI. "
    "Planning cost only; no query runs.",
)
def q_plan_invariant_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    def plan_of(name: str) -> str:
        df = REGISTRY[name].fn(spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    checks = [
        (
            "bucketed_colocated_join",
            "join_consumes_bucket_layout",
            lambda p: "SortMergeJoin" in p
            and "SelectedBucketsCount" in p
            and "Exchange hashpartitioning(o_custkey" not in p
            and "Exchange hashpartitioning(c_custkey" not in p,
        ),
        (
            "bloom_semijoin_pruning",
            "bloom_probe_is_row_local",
            # the bitset rides the plan as a literal expression over the
            # orders scan: assert the shiftright/bitwiseAND probe is
            # PRESENT in a Filter (scoped positively — a Catalyst
            # runtime bloom filter legitimately adds its own
            # might_contain, so absence tests would false-flag)
            lambda p: "shiftright" in p and "Filter" in p,
        ),
        (
            "hard_negative_mining",
            "mining_is_window_free",
            lambda p: "Window" not in p,
        ),
        (
            "skewed_join_salted",
            "salt_reaches_the_join_key",
            lambda p: "__salt" in p and "Generate explode" in p,
        ),
        (
            "events_asof_nearest",
            "single_key_exchange",
            lambda p: p.count("Exchange hashpartitioning(user_id") == 1,
        ),
    ]
    rows = []
    for qname, invariant, pred in checks:
        plan = plan_of(qname)
        rows.append((qname, invariant, bool(pred(plan))))
    return spark.createDataFrame(
        rows, "query string, invariant string, ok_invariant boolean"
    )


@_register(
    "pseudonymized_export",
    """
    WITH p AS (
        SELECT substring(md5('pseud/' || CAST(o_custkey AS VARCHAR)),
                         1, 16) AS pseudonym,
               o_custkey,
               CAST(FLOOR(o_totalprice / 100000.0) AS BIGINT) AS band
        FROM orders
    )
    SELECT band, COUNT(*) AS n_orders,
           CAST(COUNT(DISTINCT pseudonym) AS BIGINT) AS n_pseudonyms,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custkeys,
           COUNT(DISTINCT pseudonym) = COUNT(DISTINCT o_custkey)
               AS ok_joinability
    FROM p GROUP BY band
    """,
    "§2.11 governance (stable pseudonymization export)",
    "The privacy-preserving export that pairs with the GDPR purge: "
    "direct identifiers are replaced by STABLE salted-md5 pseudonyms "
    "(row-local, whole-stage codegen — the same key always maps to "
    "the same token, so downstream joins and per-entity analytics "
    "still work on the exported data) and the sensitive measure is "
    "coarsened to bands. The hashed output proves joinability "
    "survived (distinct pseudonyms == distinct keys per band, "
    "genuinely counted) — a pseudonym collision, which would silently "
    "merge two customers' histories, breaks both the flag and the "
    "hash. At 100 TB this is a map-only pass; the salt lives in a "
    "secret store, never the data.",
)
def q_pseudonymized_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    pseudonym = F.substring(
        F.md5(F.concat(F.lit("pseud/"), F.col("o_custkey").cast("string"))),
        1, 16,
    )
    p = o.select(
        pseudonym.alias("pseudonym"),
        "o_custkey",
        F.floor(F.col("o_totalprice") / 100000.0).cast("long").alias("band"),
    )
    return p.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("pseudonym").alias("n_pseudonyms"),
        F.countDistinct("o_custkey").alias("n_custkeys"),
        (
            F.countDistinct("pseudonym") == F.countDistinct("o_custkey")
        ).alias("ok_joinability"),
    )


_KANON_K = 5


@_register(
    "k_anonymity_audit",
    f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS grp_n
        FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST({_KANON_K} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(grp_n) AS BIGINT) AS min_group_size,
           CAST(SUM(CASE WHEN grp_n < {_KANON_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_groups_below_k,
           CAST(SUM(CASE WHEN grp_n < {_KANON_K} THEN grp_n ELSE 0 END)
                AS BIGINT) AS n_rows_suppressed,
           MIN(grp_n) >= {_KANON_K} AS ok_k_anonymous
    FROM g
    """,
    "§2.11 governance (k-anonymity audit over quasi-identifiers)",
    "The release gate for the pseudonymized export: even with direct "
    "identifiers tokenized, quasi-identifier combinations "
    "(nation x market segment here) can re-identify members of small "
    "groups. One aggregation computes every group's size and the "
    "k={0}-anonymity verdict: how many groups fall below k and how "
    "many rows a suppress-small-groups policy would withhold. "
    "Hash-exact against the oracle — an equivalence class miscounted "
    "by one flips the suppression accounting. At 100 TB this is one "
    "partial-aggregated exchange of the quasi-identifier tuple, and "
    "the audit runs per export, not per query.".format(_KANON_K),
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("grp_n"))
    )
    return g.agg(
        F.lit(_KANON_K).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("grp_n").alias("min_group_size"),
        F.sum((F.col("grp_n") < _KANON_K).cast("long")).alias(
            "n_groups_below_k"
        ),
        F.sum(
            F.when(F.col("grp_n") < _KANON_K, F.col("grp_n")).otherwise(0)
        ).alias("n_rows_suppressed"),
        (F.min("grp_n") >= _KANON_K).alias("ok_k_anonymous"),
    )


# -------------------------------------------------------------------------
# Bucketed co-located join (bucketBy tables, shuffle-free sort-merge)
# -------------------------------------------------------------------------

_BKT_N = 8


def _bucketed_join_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Persist orders + customer as BUCKETED tables (bucketBy on the
    join keys, same bucket count, one file per bucket via a
    bucket-aligned repartition) — the layout that lets repeated joins
    on the key skip their exchanges entirely. Built once per session
    per dataset (catalog-guarded); saveAsTable because bucket metadata
    lives in the catalog, not the files.

    The table name is PROCESS-unique (pid as a READABLE suffix): the
    in-memory catalog dies with the process, so a second concurrent
    process sees tableExists() == False for a name whose managed
    location is alive and being read by the first — sharing the name
    would make process B rmtree + rebuild the directory under process
    A's cached file listing (observed: FAILED_READ_FILE.FILE_NOT_EXIST
    in a pytest run concurrent with an oracle walk). Per-process
    tables cost one ~1 s rebuild per process and make cross-process
    interference structurally impossible; within a process the catalog
    guard still caches across sessions.

    Orphan reclamation: every build (a) registers an atexit rmtree for
    its own two locations, and (b) sweeps sibling ``umt_bkt_*_<pid>``
    directories whose embedded pid is no longer alive — so killed
    processes' leaks are reclaimed by the next builder instead of
    accumulating in spark-warehouse forever. Liveness is structural
    (``os.kill(pid, 0)``), never mtime, so a long-running concurrent
    walk's live tables are untouchable."""
    import atexit
    import hashlib
    import os
    import re
    import shutil
    from urllib.parse import urlparse

    key = (
        hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:6]
        + f"_{os.getpid()}"
    )
    t_orders, t_cust = f"umt_bkt_orders_{key}", f"umt_bkt_customer_{key}"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def _pid_alive(pid: int) -> bool:
        # Portable liveness: signal 0 probes existence without touching
        # the process. /proc/<pid> only exists on Linux — on macOS every
        # sibling would look dead and the sweep would rmtree bucket
        # tables belonging to LIVE concurrent processes.
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return False
        except PermissionError:
            return True  # exists, owned by someone else
        except OSError:
            return True  # unknown — err on the side of keeping it
        return True

    def _sweep_dead_siblings() -> None:
        pat = re.compile(r"^umt_bkt_\w+_[0-9a-f]{6}_(\d+)$")
        try:
            entries = os.listdir(wh)
        except OSError:
            return
        for name in entries:
            m = pat.match(name)
            if m and not _pid_alive(int(m.group(1))):
                shutil.rmtree(os.path.join(wh, name), ignore_errors=True)

    def _clear_stale_location(table: str) -> None:
        # the in-memory catalog dies with the process but the managed
        # location survives; an orphaned dir blocks re-creation
        loc = os.path.join(wh, table.lower())
        if os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)

    if not (
        spark.catalog.tableExists(t_orders)
        and spark.catalog.tableExists(t_cust)
    ):
        _sweep_dead_siblings()
        for t in (t_orders, t_cust):
            atexit.register(
                shutil.rmtree, os.path.join(wh, t.lower()), ignore_errors=True
            )

    if not spark.catalog.tableExists(t_orders):
        _clear_stale_location(t_orders)
        (
            _t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .repartition(_BKT_N, "o_custkey")  # task==bucket -> 1 file each
            .write.bucketBy(_BKT_N, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable(t_orders)
        )
    if not spark.catalog.tableExists(t_cust):
        _clear_stale_location(t_cust)
        (
            _t(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment")
            .repartition(_BKT_N, "c_custkey")
            .write.bucketBy(_BKT_N, "c_custkey")
            .sortBy("c_custkey")
            .mode("overwrite")
            .saveAsTable(t_cust)
        )
    return t_orders, t_cust


@_register(
    "bucketed_colocated_join",
    """
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    "§2.11 storage-aligned joins (bucketBy tables, zero-exchange "
    "sort-merge)",
    "The co-located join a 100 TB star schema is laid out for: both "
    "sides persisted as bucketed tables (bucketBy on their join keys, "
    "equal bucket counts, bucket-aligned one-file-per-bucket writes), "
    "so the sort-merge join consumes the ON-DISK partitioning and "
    "plans with ZERO shuffle exchanges — the join cost every "
    "subsequent query on these keys stops paying (a plan test pins "
    "Exchange-free SortMergeJoin with bucketed scans; the query "
    "hints merge to keep Catalyst from broadcasting the bench-scale "
    "dim, which would hide the layout property under test). This is "
    "the Spark-native twin of the lakehouse module's manual bucket "
    "manifests: there the engine owns the routing, here the catalog "
    "does. The oracle is the plain join — layout must never change a "
    "row.",
)
def q_bucketed_colocated_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t_orders, t_cust = _bucketed_join_tables(spark, sf_dir)
    o = spark.table(t_orders)
    c = spark.table(t_cust)
    return (
        o.hint("merge")
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(_dec("o_totalprice")).alias("total_price"),
        )
    )


@_register(
    "rfm_segments",
    """
    WITH base AS (
        SELECT o_custkey AS c_custkey,
               DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
                         (SELECT CAST(MAX(o_orderdate) AS DATE)
                          FROM orders)) AS recency_days,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS monetary
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY recency_days, c_custkey) AS rr,
               ROW_NUMBER() OVER (ORDER BY n_orders DESC, c_custkey) AS rf,
               ROW_NUMBER() OVER (ORDER BY monetary DESC, c_custkey) AS rm,
               COUNT(*) OVER () AS n
        FROM base
    ),
    scored AS (
        SELECT CAST(5 - FLOOR((rr - 1) * 5.0 / n) AS INT) AS r_score,
               CAST(5 - FLOOR((rf - 1) * 5.0 / n) AS INT) AS f_score,
               CAST(5 - FLOOR((rm - 1) * 5.0 / n) AS INT) AS m_score,
               recency_days, n_orders, monetary
        FROM ranked
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           ROUND(AVG(CAST(recency_days AS DOUBLE)), 6) AS avg_recency_days,
           ROUND(AVG(CAST(n_orders AS DOUBLE)), 6) AS avg_orders,
           ROUND(CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_monetary
    FROM scored GROUP BY 1, 2, 3
    """,
    "§2.11 customer analytics (RFM quintile segmentation)",
    "Classic RFM segmentation: per customer, recency (days since last "
    "order, against the corpus max date), frequency (order count) and "
    "monetary (total spend); each metric is quintile-scored 1-5 (5 = "
    "best) and segments are the (R,F,M) cells with size and metric "
    "means. The quintile is an explicit rank formula 5 - "
    "floor((rank-1)*5/n) over the deterministic total order (metric, "
    "custkey) — identical arithmetic in both engines, so the hash is "
    "exact without NTILE's remainder ambiguity. The three global ranks "
    "come from operators.indexing.ordered_dense_rank (range-partitioned "
    "two-phase rank, broadcast offsets) — NOT single-partition ORDER BY "
    "windows — so customer scoring runs at full cluster parallelism; "
    "the oracle's ROW_NUMBER() windows are bit-equal. At 100 TB the "
    "per-customer base aggregate is map-side combinable and each rank "
    "pass is one range exchange of (metric, custkey) pairs.",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._shared import ordered_dense_rank

    orders = _t(spark, sf_dir, "orders")
    ref = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("ref_date")
    )
    base = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_date"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "c_custkey",
            F.datediff("ref_date", "last_date").alias("recency_days"),
            "n_orders",
            "monetary",
        )
    )
    base = base.withColumn(
        "__kr", F.struct(F.col("recency_days"), F.col("c_custkey"))
    ).withColumn(
        "__kf", F.struct((-F.col("n_orders")).alias("nf"), F.col("c_custkey"))
    ).withColumn(
        "__km", F.struct((-F.col("monetary")).alias("nm"), F.col("c_custkey"))
    )
    # r13 pinned these ranks to the distributed path (local_ok=False)
    # because avg_monetary was a raw float AVG whose 6th decimal moved
    # with row order. r14 made every output aggregate exact /
    # order-independent (decimal mean above), which un-pins the shape:
    # the local dispatch applies (per-customer relations sit far below
    # the 100k budget at bench scale) and collapses three range-shuffle
    # checkpoints + counts collects into three broadcast mappings; above
    # budget the distributed two-phase path is unchanged. Verified
    # hash-exact vs the oracle at sf0.001/0.01/0.1 and under the
    # 3-vs-64-partition determinism gate.
    ranked = ordered_dense_rank(base, "__kr", rank_col="rr")
    ranked = ordered_dense_rank(ranked, "__kf", rank_col="rf")
    ranked = ordered_dense_rank(ranked, "__km", rank_col="rm")
    n = ranked.agg(F.count(F.lit(1)).alias("n"))

    def score(rank_col: str) -> F.Column:
        return (
            F.lit(5)
            - F.floor((F.col(rank_col) - 1) * 5.0 / F.col("n"))
        ).cast("int")

    scored = ranked.crossJoin(F.broadcast(n)).select(
        score("rr").alias("r_score"),
        score("rf").alias("f_score"),
        score("rm").alias("m_score"),
        "recency_days",
        "n_orders",
        "monetary",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg(F.col("recency_days").cast("double")), 6).alias(
            "avg_recency_days"
        ),
        F.round(F.avg(F.col("n_orders").cast("double")), 6).alias("avg_orders"),
        # exact decimal mean (r14): monetary is a 2-decimal money value,
        # so the repo-wide parity rule applies — sum as DECIMAL (exact,
        # order-independent), ONE double division at the end. The float
        # AVG it replaces accumulated in partition order and sat 1 ulp
        # off DuckDB at sf0.1 (avg 2827776.544687 vs .544688) — an
        # inherited r13 gap below the driver's sf0.01 gate. The oracle
        # twin computes the identical expression, so the mean is now
        # bit-equal on both engines at every SF and any partitioning.
        F.round(
            F.sum(F.col("monetary").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_monetary"),
    )


@_register(
    "market_basket_pairs",
    """
    WITH ob AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM ob),
    bc AS (SELECT brand, COUNT(*) AS nb FROM ob GROUP BY 1),
    pc AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_ab
        FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_ab,
           ROUND(CAST(n_ab AS DOUBLE) / n.n_orders, 6) AS support,
           ROUND(CAST(n_ab AS DOUBLE) / ba.nb, 6) AS confidence,
           ROUND(CAST(n_ab AS DOUBLE) * n.n_orders / (ba.nb * bb.nb), 6)
               AS lift
    FROM pc, n
    JOIN bc ba ON ba.brand = pc.brand_a
    JOIN bc bb ON bb.brand = pc.brand_b
    WHERE n_ab * 100 >= n.n_orders
    """,
    "§2.11 training-data ops (market-basket co-occurrence mining)",
    "Frequent-pair mining over order baskets: which part brands "
    "co-occur in the same order, with support / confidence(a->b) / "
    "lift, kept at min-support 1% of orders. Plan shape: the part dim "
    "joins broadcast (brand lookup never shuffles the fact table's "
    "rows beyond the basket grouping); baskets form via one "
    "orderkey-keyed exchange into sorted distinct-brand arrays; pair "
    "generation is an in-row array comb (transform x slice -> "
    "flatten -> explode), NOT a fact-table self-join, so a k-item "
    "basket emits its k(k-1)/2 pairs map-side and the only pair "
    "shuffle is the map-side-combined (brand_a, brand_b) count with "
    "at most |brands|^2 cells. Margins and the order count ride the "
    "same basket relation; both join back broadcast. At 100 TB "
    "nothing but (pair, count) cells and two tiny broadcasts move — "
    "the classic a-priori first pass as one DataFrame chain.",
)
def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand")
    )
    # ONE orderkey exchange: dedup happens in-row (collect_set) instead
    # of a separate distinct() — a distinct-then-regroup plan pays two
    # full exchanges of the (order, brand) relation for the same result
    # (measured 2x wall at the 10x scale protocol). Margins and the
    # order count re-derive from the deduped basket arrays (explode is
    # in-row; its groupBy shuffles only |brands| cells).
    baskets = ob.groupBy("ok").agg(
        F.sort_array(F.collect_set("brand")).alias("bs")
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "bs",
                    lambda x, i: F.transform(
                        F.slice(F.col("bs"), i + 2, F.size("bs")),
                        lambda y: F.struct(
                            x.alias("brand_a"), y.alias("brand_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.brand_a", "p.brand_b")
    pc = pairs.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).alias("n_ab")
    )
    n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    bc = (
        baskets.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    ba = bc.select(F.col("brand").alias("brand_a"), F.col("nb").alias("na"))
    bb = bc.select(F.col("brand").alias("brand_b"), F.col("nb").alias("nb_"))
    out = (
        pc.crossJoin(F.broadcast(n))
        .join(F.broadcast(ba), "brand_a")
        .join(F.broadcast(bb), "brand_b")
        .filter(F.col("n_ab") * 100 >= F.col("n_orders"))
    )
    nab = F.col("n_ab").cast("double")
    return out.select(
        "brand_a",
        "brand_b",
        "n_ab",
        F.round(nab / F.col("n_orders"), 6).alias("support"),
        F.round(nab / F.col("na"), 6).alias("confidence"),
        F.round(nab * F.col("n_orders") / (F.col("na") * F.col("nb_")), 6).alias(
            "lift"
        ),
    )


@_register(
    "chi_square_independence",
    """
    WITH obs AS (
        SELECT c_mktsegment AS seg, o_orderpriority AS prio,
               COUNT(*) AS o
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    rm AS (SELECT seg, SUM(o) AS rt FROM obs GROUP BY 1),
    cm AS (SELECT prio, SUM(o) AS ct FROM obs GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
        SELECT rm.seg, cm.prio, rm.rt, cm.ct,
               COALESCE(obs.o, 0) AS o,
               CAST(rm.rt AS DOUBLE) * cm.ct / tot.n AS e
        FROM rm CROSS JOIN cm CROSS JOIN tot
        LEFT JOIN obs ON obs.seg = rm.seg AND obs.prio = cm.prio
    )
    SELECT CAST(SUM(o) AS BIGINT) AS n,
           CAST((COUNT(DISTINCT seg) - 1)
                * (COUNT(DISTINCT prio) - 1) AS INT) AS dof,
           ROUND(SUM((o - e) * (o - e) / e), 4) AS chi2,
           ROUND(SQRT(SUM((o - e) * (o - e) / e) / (SUM(o) *
                 LEAST(COUNT(DISTINCT seg) - 1,
                       COUNT(DISTINCT prio) - 1))), 6) AS cramers_v
    FROM cells
    """,
    "§2.11 statistics (chi-square test of independence + Cramer's V)",
    "Is order priority independent of customer market segment? "
    "Pearson chi-square over the 5x5 contingency table of the "
    "customer-orders join, with degrees of freedom and Cramer's V "
    "effect size. Plan shape: the fact-side join aggregates straight "
    "into |seg|x|prio| observed cells (map-side combinable, the "
    "customer dim would broadcast at any scale); margins, the "
    "expected counts e = rt*ct/n, and zero-observed cells all "
    "materialize by crossing the two tiny margin relations — a "
    "25-row bounded cross, never a window over the fact table. "
    "Everything after the first aggregate is driver-scale.",
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    obs = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rm = obs.groupBy("seg").agg(F.sum("o").alias("rt"))
    cm = obs.groupBy("prio").agg(F.sum("o").alias("ct"))
    tot = obs.agg(F.sum("o").alias("n"))
    cells = (
        rm.crossJoin(F.broadcast(cm))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(obs), ["seg", "prio"], "left")
        .select(
            "seg",
            "prio",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            (F.col("rt").cast("double") * F.col("ct") / F.col("n")).alias("e"),
        )
    )
    dev = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    r1 = F.countDistinct("seg") - 1
    c1 = F.countDistinct("prio") - 1
    return cells.agg(
        F.sum("o").cast("long").alias("n"),
        (r1 * c1).cast("int").alias("dof"),
        F.round(F.sum(dev), 4).alias("chi2"),
        F.round(
            F.sqrt(F.sum(dev) / (F.sum("o") * F.least(r1, c1))), 6
        ).alias("cramers_v"),
    )


@_register(
    "benford_digit_audit",
    """
    WITH d AS (
        SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                   AS VARCHAR), 1, 1) AS INT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
    tot AS (SELECT SUM(n) AS nt FROM c)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / nt, 6) AS obs_share,
           ROUND(LN(1.0 + 1.0 / digit) / LN(10.0), 6) AS benford_share,
           ROUND(CAST(n AS DOUBLE) / nt
                 - LN(1.0 + 1.0 / digit) / LN(10.0), 6) AS deviation
    FROM c, tot
    """,
    "§2.11 data-quality ops (Benford first-digit audit)",
    "First-significant-digit audit of order totals against Benford's "
    "law P(d) = log10(1 + 1/d): per digit, observed share vs the "
    "Benford expectation and the signed deviation — the classic "
    "fraud / synthetic-data smell test. Plan shape: one projection "
    "computes the digit (string head of the integer part, pure "
    "column ops), one map-side-combinable groupBy folds the corpus "
    "into <= 9 cells, and the total joins back broadcast. At 100 TB "
    "this is a single scan emitting 9 rows.",
)
def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    c = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = c.agg(F.sum("n").alias("nt"))
    benford = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    return c.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("nt"), 6).alias("obs_share"),
        F.round(benford, 6).alias("benford_share"),
        F.round(F.col("n").cast("double") / F.col("nt") - benford, 6).alias(
            "deviation"
        ),
    )


@_register(
    "gini_concentration",
    """
    WITH base AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS HUGEINT) AS cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT cents,
               CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey)
                    AS HUGEINT) AS r
        FROM base
    ),
    nn AS (SELECT COUNT(*) AS n_rows FROM ranked),
    agg AS (
        SELECT COUNT(*) AS n, SUM(cents) AS sx, SUM(r * cents) AS swx,
               SUM(CASE WHEN r > n_rows - FLOOR(n_rows / 10)
                        THEN cents ELSE 0 END) AS top_cents
        FROM ranked, nn
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND(CAST(sx AS DOUBLE) / 100, 2) AS total_revenue,
           ROUND((2.0 * CAST(swx AS DOUBLE)
                  - (CAST(n AS DOUBLE) + 1) * CAST(sx AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS gini,
           ROUND(CAST(top_cents AS DOUBLE) / CAST(sx AS DOUBLE), 6)
               AS top_decile_share
    FROM agg
    """,
    "§2.11 statistics (Gini coefficient / revenue concentration)",
    "Revenue-concentration report: the exact Gini coefficient of "
    "per-customer spend (rank formulation G = (2*sum(r*x) - (n+1)*"
    "sum(x)) / (n*sum(x)) over the ascending-spend order) plus the "
    "top-decile revenue share. Determinism discipline: spend is exact "
    "integer cents (DECIMAL partials), the ascending rank is the "
    "range-partitioned two-phase global rank on the unique (cents, "
    "custkey) key, and sum(r*x) accumulates in DECIMAL(38,0)/HUGEINT "
    "— every statistic is an exact integer until the two final double "
    "divisions, evaluated in the same expression shape on both "
    "engines. One customer-keyed aggregate + one range exchange of "
    "(cents, custkey) pairs; the Gini itself reduces to three "
    "numbers. At 100 TB the per-customer relation is the small side.",
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._shared import ordered_dense_rank

    orders = _t(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")
        .alias("cents")
    )
    # r14 (guide §2.3): rank only the key struct — cents is recovered
    # from the struct afterwards, so the rank materialization carries
    # one copy of each value instead of two; key values, hence ranks,
    # unchanged, and every downstream sum is exact DECIMAL
    keyed = base.select(
        F.struct(F.col("cents"), F.col("o_custkey")).alias("__k")
    )
    ranked = ordered_dense_rank(keyed, "__k", rank_col="r").select(
        F.col("__k.cents").alias("cents"), "r"
    )
    n1 = ranked.agg(F.count(F.lit(1)).alias("n_rows"))
    r = F.col("r").cast("decimal(38,0)")
    agg = ranked.crossJoin(F.broadcast(n1)).agg(
        F.max("n_rows").alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(r * F.col("cents")).alias("swx"),
        F.sum(
            F.when(
                F.col("r")
                > F.col("n_rows") - F.floor(F.col("n_rows") / 10),
                F.col("cents"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("top_cents"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(sxd / 100, 2).alias("total_revenue"),
        F.round(
            (2.0 * F.col("swx").cast("double") - (nd + 1) * sxd) / (nd * sxd),
            6,
        ).alias("gini"),
        F.round(F.col("top_cents").cast("double") / sxd, 6).alias(
            "top_decile_share"
        ),
    )


@_register(
    "revenue_yoy_growth",
    """
    WITH rev AS (
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS year,
               ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE), 2) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
    SELECT nation, year, revenue,
           LAG(revenue) OVER (PARTITION BY nation ORDER BY year)
               AS prev_revenue,
           ROUND((revenue - LAG(revenue) OVER (PARTITION BY nation
                                               ORDER BY year))
                 / LAG(revenue) OVER (PARTITION BY nation ORDER BY year),
                 6) + 0.0 AS yoy_growth
    FROM rev
    """,
    "§2.11 time intelligence (year-over-year growth per group)",
    "The standard time-intelligence shape: revenue per (nation, year) "
    "with the prior-year comparison and relative growth via a lag "
    "window — the YoY complement to the rolling (rolling_week_order_"
    "value) and trend (user_value_trend) operators. Plan shape: two "
    "broadcast dim joins onto the fact scan, one map-side-combinable "
    "aggregate into |nations|x|years| cells, and the lag window runs "
    "partitioned BY NATION over <=7-row partitions of that tiny cell "
    "relation — the window never sees fact rows. Revenue sums in "
    "exact DECIMAL before the one rounded cast. First year per nation "
    "reports NULL growth on both engines.",
)
def q_revenue_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("year"),
        )
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("nation").orderBy("year")
    prev = F.lag("revenue").over(w)
    return rev.select(
        "nation",
        "year",
        "revenue",
        prev.alias("prev_revenue"),
        (F.round((F.col("revenue") - prev) / prev, 6) + F.lit(0.0)).alias(
            "yoy_growth"
        ),
    )


@_register(
    "winsorized_stats",
    """
    WITH q AS (
        SELECT c_mktsegment,
               ROUND(quantile_cont(c_acctbal, 0.01), 6) AS lo,
               ROUND(quantile_cont(c_acctbal, 0.99), 6) AS hi
        FROM customer GROUP BY 1
    ),
    clipped AS (
        SELECT c.c_mktsegment,
               CAST(CAST(LEAST(GREATEST(c.c_acctbal, q.lo), q.hi)
                         AS DECIMAL(18,6)) * 1000000 AS HUGEINT) AS m,
               CAST(c.c_acctbal < q.lo AS INT) AS clip_lo,
               CAST(c.c_acctbal > q.hi AS INT) AS clip_hi
        FROM customer c JOIN q ON c.c_mktsegment = q.c_mktsegment
    )
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_rows,
           CAST(SUM(clip_lo) AS BIGINT) AS n_clipped_lo,
           CAST(SUM(clip_hi) AS BIGINT) AS n_clipped_hi,
           ROUND(CAST(SUM(m) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
               AS w_mean,
           ROUND(SQRT(CAST(COUNT(*) * SUM(m * m) - SUM(m) * SUM(m)
                           AS DOUBLE)
                      / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) - 1)))
                 / 1000000.0, 6) AS w_std
    FROM clipped GROUP BY 1
    """,
    "§2.11 data cleaning (winsorized moments per group)",
    "Winsorized mean/std per segment: exact interpolated p01/p99 "
    "(Spark percentile ≡ DuckDB quantile_cont, rounded to 6 decimals "
    "on both engines before clipping so no last-ulp fence flip — the "
    "iqr_outlier_fences discipline), values clipped to the fences, "
    "and the moments computed from EXACT integer micro-unit "
    "sufficient statistics (DECIMAL(18,6) quantization is per-value "
    "deterministic; DECIMAL(38,0)/HUGEINT sums are order-independent) "
    "with one identical double expression per moment — the robust "
    "replacement for outlier-dropping when row counts must be "
    "preserved. Plan: one exact-percentile pass, then the 5-row fence "
    "table broadcasts back onto the scan; approx_quantile_sketch is "
    "the registered 100 TB fence path.",
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    q = cust.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.01)"), 6).alias("lo"),
        F.round(F.expr("percentile(c_acctbal, 0.99)"), 6).alias("hi"),
    )
    clip = F.least(F.greatest(F.col("c_acctbal"), F.col("lo")), F.col("hi"))
    m = (clip.cast("decimal(18,6)") * 1000000).cast("decimal(38,0)")
    clipped = cust.join(F.broadcast(q), "c_mktsegment").select(
        "c_mktsegment",
        m.alias("m"),
        (F.col("c_acctbal") < F.col("lo")).cast("int").alias("clip_lo"),
        (F.col("c_acctbal") > F.col("hi")).cast("int").alias("clip_hi"),
    )
    n = F.count(F.lit(1))
    s = F.sum("m")
    ss = F.sum(F.col("m") * F.col("m"))
    return clipped.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        n.alias("n_rows"),
        F.sum("clip_lo").cast("long").alias("n_clipped_lo"),
        F.sum("clip_hi").cast("long").alias("n_clipped_hi"),
        F.round(s.cast("double") / n / 1000000.0, 6).alias("w_mean"),
        F.round(
            F.sqrt(
                (n.cast("decimal(38,0)") * ss - s * s).cast("double")
                / (n.cast("double") * (n - 1))
            )
            / 1000000.0,
            6,
        ).alias("w_std"),
    )


@_register(
    "share_of_parent_rollup",
    """
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rd
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(rd) AS grand FROM rev)
    SELECT region, nation,
           ROUND(CAST(rd AS DOUBLE), 2) AS revenue,
           ROUND(CAST(SUM(rd) OVER (PARTITION BY region) AS DOUBLE), 2)
               AS region_revenue,
           ROUND(CAST(rd AS DOUBLE)
                 / CAST(SUM(rd) OVER (PARTITION BY region) AS DOUBLE), 6)
               AS pct_of_region,
           ROUND(CAST(SUM(rd) OVER (PARTITION BY region) AS DOUBLE)
                 / CAST(tot.grand AS DOUBLE), 6) AS region_pct_of_total
    FROM rev, tot
    """,
    "§2.11 OLAP (share-of-parent hierarchical contribution)",
    "The share-of-parent OLAP shape: each nation's revenue as a share "
    "of its region, and each region as a share of the grand total — "
    "the percentage view the region_nation_rollup subtotals don't "
    "give. Determinism: revenue aggregates in exact DECIMAL end to "
    "end (the per-nation cells, the region window sum, and the grand "
    "total are all exact before the two rounded divisions). Plan "
    "shape: three broadcast dim joins onto the fact scan, one "
    "map-side-combinable aggregate into |nation| cells, a window "
    "partitioned BY REGION over that 25-row cell relation, and the "
    "grand total crosses back from a 1-row aggregate — the window "
    "never sees fact rows.",
)
def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(F.sum(_dec("o_totalprice")).alias("rd"))
    )
    tot = rev.agg(F.sum("rd").alias("grand"))
    w = Window.partitionBy("region")
    reg = F.sum("rd").over(w)
    return rev.crossJoin(F.broadcast(tot)).select(
        "region",
        "nation",
        F.round(F.col("rd").cast("double"), 2).alias("revenue"),
        F.round(reg.cast("double"), 2).alias("region_revenue"),
        F.round(F.col("rd").cast("double") / reg.cast("double"), 6).alias(
            "pct_of_region"
        ),
        F.round(
            reg.cast("double") / F.col("grand").cast("double"), 6
        ).alias("region_pct_of_total"),
    )


@_register(
    "sole_blame_suppliers",
    """
    SELECT s.s_name AS supplier, COUNT(DISTINCT l1.l_orderkey) AS n_orders
    FROM lineitem l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey != l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey != l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY 1
    ORDER BY n_orders DESC, supplier
    LIMIT 20
    """,
    "§2.11 relational core (TPC-H Q21 shape: correlated EXISTS / NOT EXISTS)",
    "The Q21 'suppliers who kept orders waiting' pattern mapped onto "
    "this schema: suppliers who were the SOLE returned-flag ('R') "
    "supplier in a multi-supplier order — one correlated EXISTS (other "
    "suppliers participated) and one correlated NOT EXISTS (none of "
    "them was also at fault). The oracle keeps the textbook "
    "EXISTS/NOT-EXISTS form; the Spark plan is the aggregation-based "
    "decorrelation a distributed engine wants: the fact rows shuffle "
    "ONCE into the distinct (order, supplier, any_R) pair relation "
    "(map-side combined — no Expand-doubled multi-count-distinct, no "
    "separate distinct pass), the order profile (n_suppliers, "
    "n_R_suppliers) is a second aggregate over pairs only, and the "
    "qualifying condition becomes (ns > 1 AND nr = 1) on the joined "
    "profile — no repeated correlated probes, no fact-table self-join "
    "per subquery. Per-supplier counting is map-side combinable with "
    "top-20 as TakeOrdered. De-dup discipline: a supplier with "
    "several R lines in one order counts that order ONCE (the pair "
    "relation is distinct), matching COUNT(DISTINCT orderkey) over "
    "the EXISTS form exactly.",
)
def q_sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    # one (order, supplier) exchange replaces the Expand-doubled
    # two-count-distinct profile + a separate distinct: the fact rows
    # shuffle ONCE (map-side combined), every later stage runs on the
    # distinct-pair relation
    pairs = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("any_r")
    )
    prof = pairs.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("ns"), F.sum("any_r").alias("nr")
    )
    cand = (
        pairs.filter(F.col("any_r") == 1)
        .join(prof, "l_orderkey")
        .filter((F.col("ns") > 1) & (F.col("nr") == 1))
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        cand.join(F.broadcast(supp), cand.l_suppkey == supp.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "supplier")
        .limit(20)
    )


@_register(
    "customer_order_histogram",
    """
    WITH per_cust AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1
    )
    SELECT n_orders, COUNT(*) AS n_customers
    FROM per_cust GROUP BY 1
    """,
    "§2.11 relational core (TPC-H Q13 shape: outer join + double aggregate)",
    "Customer distribution by order count INCLUDING the zero bucket — "
    "the Q13 pattern whose whole point is the LEFT OUTER join "
    "(customers with no orders must appear as n_orders = 0, which an "
    "inner join silently drops; COUNT(o_orderkey) counts non-null "
    "matches only). Plan shape: one outer join on the customer key, "
    "a per-customer count riding the same exchange, then a map-side-"
    "combinable second aggregate into at most max(n_orders)+1 cells. "
    "At 100 TB the orders side pre-aggregates per custkey before the "
    "join (Catalyst pushes the partial aggregate), so the outer join "
    "carries one row per customer on each side.",
)
def q_customer_order_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@_register(
    "cumulative_unique_users",
    """
    WITH fs AS (
        SELECT user_id, event_type, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY 1, 2
    ),
    daily AS (
        SELECT event_type, first_day AS day, COUNT(*) AS new_users
        FROM fs GROUP BY 1, 2
    )
    SELECT d1.event_type,
           epoch_us(CAST(d1.day AS TIMESTAMP)) AS day_start_us,
           d1.new_users,
           CAST(SUM(d2.new_users) AS BIGINT) AS cumulative_users
    FROM daily d1 JOIN daily d2 ON d2.event_type = d1.event_type
                               AND d2.day <= d1.day
    GROUP BY 1, 2, 3
    """,
    "§2.11 event analytics (cumulative distinct users over time)",
    "The adoption curve: per (event type, day), newly converted users "
    "(first time that user performed that action) and the running "
    "count of distinct users who ever have — computed WITHOUT a "
    "running distinct (which would need per-day state over the whole "
    "id space): each (user, type) collapses to a first-seen day "
    "(map-side-combinable min), daily new-user counts are a "
    "types x days cell relation, and the cumulative sum is a bounded "
    "per-type triangular self-join on those cells (the drift-monitor "
    "ECDF discipline — no unpartitioned ORDER BY window). At 100 TB "
    "the only corpus-sized cost is the per-(user, type) min; the "
    "curve math runs on cells.",
)
def q_cumulative_unique_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    fs = ev.groupBy("user_id", "event_type").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = fs.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    d2 = daily.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("day2"),
        F.col("new_users").alias("nu2"),
    )
    return (
        daily.join(
            F.broadcast(d2),
            (F.col("et2") == F.col("event_type"))
            & (F.col("day2") <= F.col("day")),
        )
        .groupBy("event_type", "day", "new_users")
        .agg(F.sum("nu2").cast("long").alias("cumulative_users"))
        .select(
            "event_type",
            F.unix_micros(F.col("day").cast("timestamp")).alias(
                "day_start_us"
            ),
            "new_users",
            "cumulative_users",
        )
    )


# =========================================================================
# Round 11: remaining TPC-H query shapes (Q14/Q8/Q11/Q15/Q19/Q22/Q2)
# =========================================================================


@_register(
    "promo_revenue_share",
    """
    SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT)
               AS ship_month,
           FLOOR(
             (100.0 * CAST(COALESCE(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2))) END), 0)
                 AS DOUBLE))
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS promo_share
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY 1
    """,
    "§2.11 relational core (TPC-H Q14 shape: conditional-share aggregate)",
    "Monthly promo revenue share — the Q14 pattern: one fact-dim join "
    "feeding a conditional aggregate whose numerator is a CASE-gated "
    "subset of its denominator, so one pass computes both (never two "
    "scans or a self-join). The part dim broadcasts (Spark side hints "
    "it; at 100 TB AQE keeps it broadcast while part stays dim-sized), "
    "the month rollup is map-side combinable into <=84 cells, and both "
    "sums are exact DECIMAL before ONE double division per cell — "
    "quantized mode-free (floor(x*1e6+0.5)) so the oracle hashes "
    "bit-for-bit. Reference twin: the thesis's per-slice percentage "
    "reporting (evaluate.py's per-label precision shares) generalized "
    "to the revenue lattice.",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    prod = _dec("l_extendedprice") * (
        F.lit(1) - _dec("l_discount", "decimal(4,2)")
    )
    g = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
            .cast("int")
            .alias("ship_month")
        )
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("p_type") == "PROMO", prod)), F.lit(0)
            )
            .cast("double")
            .alias("__num"),
            F.sum(prod).cast("double").alias("__den"),
        )
    )
    return g.select(
        "ship_month",
        (
            F.floor(
                (F.lit(100.0) * F.col("__num")) / F.col("__den") * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("promo_share"),
    )


@_register(
    "national_market_share",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           FLOOR(
             CAST(COALESCE(SUM(CASE WHEN sn.n_name = 'NATION_7'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2))) END), 0)
                 AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS mkt_share
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = cn.n_regionkey AND r_name = 'ASIA'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    GROUP BY 1
    """,
    "§2.11 relational core (TPC-H Q8 shape: multi-join market share)",
    "The Q8 'national market share' pattern: within the market defined "
    "by one dimension path (orders whose CUSTOMER sits in region ASIA), "
    "the yearly revenue share supplied through another path (supplier "
    "nation NATION_7). Six joins, two independent snowflake arms off "
    "the same fact — Catalyst broadcasts every dim (nation/region/"
    "supplier/customer at bench scale; at 100 TB customer exceeds the "
    "threshold and AQE picks shuffle-hash for exactly that arm while "
    "the true dims stay broadcast), so the fact shuffles only for the "
    "orderkey join. Same one-pass CASE-share discipline as "
    "promo_revenue_share: numerator subset of denominator, exact "
    "DECIMAL sums, one quantized double division per year cell.",
)
def q_national_market_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    asia_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        ).select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nation = supp.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                  F.col("n_name").alias("sn_name"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "sn_name")
    market_orders = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("cn_key"))
        .select("o_orderkey", "o_orderdate")
    )
    prod = _dec("l_extendedprice") * (
        F.lit(1) - _dec("l_discount", "decimal(4,2)")
    )
    g = (
        li.join(market_orders, li.l_orderkey == market_orders.o_orderkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == supp_nation.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("sn_name") == "NATION_7", prod)),
                F.lit(0),
            )
            .cast("double")
            .alias("__num"),
            F.sum(prod).cast("double").alias("__den"),
        )
    )
    return g.select(
        "order_year",
        (
            F.floor(
                F.col("__num") / F.col("__den") * 1000000 + F.lit(0.5)
            )
            / 1000000
        ).alias("mkt_share"),
    )


@_register(
    "important_parts_share",
    """
    WITH pv AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS v
        FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT SUM(v) AS t, COUNT(*) AS n FROM pv)
    SELECT l_partkey AS partkey,
           ROUND(CAST(v AS DOUBLE), 2) AS part_value,
           FLOOR(CAST(v AS DOUBLE) / CAST(t AS DOUBLE) * 100000000 + 0.5)
               / 100000000 AS value_share
    FROM pv, tot
    WHERE CAST(v AS DOUBLE) > CAST(t AS DOUBLE) * 1.5 / n
    """,
    "§2.11 relational core (TPC-H Q11 shape: global-scalar HAVING)",
    "The Q11 'important stock' pattern: per-part revenue value kept "
    "only where it exceeds a fraction of the GLOBAL total — a grouped "
    "aggregate filtered against a scalar subquery over the same "
    "aggregate. One exchange builds the per-part cells; the global "
    "total is a 1-row re-aggregation of those cells (never a second "
    "fact scan) cross-joined back as a broadcast — the scalar never "
    "shuffles the cells again. The admission comparison runs on the "
    "bit-identical doubles both engines derive from exact DECIMAL "
    "sums, so the boundary part set is hash-stable; shares are "
    "quantized mode-free at 1e-8. The admission threshold is relative "
    "(1.5x the average part share), so the result is non-degenerate at "
    "every scale factor — Q11's absolute fraction empties out below "
    "sf1.",
)
def q_important_parts_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    prod = _dec("l_extendedprice") * (
        F.lit(1) - _dec("l_discount", "decimal(4,2)")
    )
    pv = li.groupBy("l_partkey").agg(F.sum(prod).alias("v"))
    tot = pv.agg(F.sum("v").alias("t"), F.count(F.lit(1)).alias("n"))
    return (
        pv.join(F.broadcast(tot))
        .filter(
            F.col("v").cast("double")
            > F.col("t").cast("double") * 1.5 / F.col("n")
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("v").cast("double"), 2).alias("part_value"),
            (
                F.floor(
                    F.col("v").cast("double")
                    / F.col("t").cast("double")
                    * 100000000
                    + F.lit(0.5)
                )
                / 100000000
            ).alias("value_share"),
        )
    )


@_register(
    "top_supplier_by_revenue",
    """
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1
    )
    SELECT s_suppkey, s_name,
           ROUND(CAST(total_rev AS DOUBLE), 2) AS total_revenue
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    "§2.11 relational core (TPC-H Q15 shape: view + global-max select)",
    "The Q15 'top supplier' pattern: a quarter-scoped per-supplier "
    "revenue view, returning every supplier tied at the global maximum "
    "(Q15's correctness trap — LIMIT 1 silently drops ties; the "
    "equality predicate keeps them all). The max is a 1-row "
    "re-aggregation of the view's cells broadcast back — the view is "
    "computed ONCE (never re-derived per the textbook's repeated-view "
    "reading), and equality compares exact DECIMALs, so the tie set "
    "is deterministic. Shipdate predicate pushes to the parquet scan; "
    "the supplier dim broadcasts onto the surviving row(s).",
)
def q_top_supplier_by_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # the explicit isnotnull mirrors the join's implicit null filter on
    # the PROBE branch — without it the two rev subtrees canonicalize
    # differently (one scan carries isnotnull(l_suppkey), one not) and
    # AQE cannot reuse the shuffle stage: the fact would scan twice
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
        & F.col("l_suppkey").isNotNull()
    )
    prod = _dec("l_extendedprice") * (
        F.lit(1) - _dec("l_discount", "decimal(4,2)")
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(prod).alias("total_rev"))
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev").cast("double"), 2).alias(
                "total_revenue"
            ),
        )
    )


@_register(
    "disjunctive_predicate_revenue",
    """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2)
               AS disc_revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 30
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    "§2.11 relational core (TPC-H Q19 shape: disjunctive join predicate)",
    "The Q19 pattern: revenue under an OR-of-ANDs predicate mixing "
    "fact columns (l_quantity) and dim columns (p_brand, p_size). The "
    "planner discipline under test: the disjunction must NOT block the "
    "join pushdown — the dim-only residue (brand IN (...) per arm) "
    "prunes the broadcast build side, the fact-only bounds "
    "(l_quantity <= 30 across all arms) push to the parquet scan, and "
    "the mixed predicate evaluates post-join inside codegen. Spark "
    "side keeps the whole disjunction as one Column expression so "
    "Catalyst derives those single-side implications itself "
    "(constraint propagation), rather than hand-splitting the OR into "
    "a union of three scans.",
)
def q_disjunctive_predicate_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    pred = (
        ((brand == "Brand#12") & size.between(1, 10) & (qty >= 1) & (qty <= 11))
        | ((brand == "Brand#23") & size.between(1, 20) & (qty >= 10) & (qty <= 20))
        | ((brand == "Brand#34") & size.between(1, 30) & (qty >= 20) & (qty <= 30))
    )
    prod = _dec("l_extendedprice") * (
        F.lit(1) - _dec("l_discount", "decimal(4,2)")
    )
    return j.filter(pred).agg(
        _dsum(prod).alias("disc_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@_register(
    "global_sales_opportunity",
    """
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS ab
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_acctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
    GROUP BY 1
    """,
    "§2.11 relational core (TPC-H Q22 shape: scalar-avg + anti join)",
    "The Q22 'global sales opportunity' pattern on this schema: "
    "customers whose balance beats the global positive-balance average "
    "but who have placed NO orders since 2000-06-01 (lapsed, not "
    "never-converted — this corpus keeps nearly every customer "
    "active, so the literal no-orders-ever set is empty below sf1), "
    "rolled up by market segment. Three "
    "textbook pieces in one plan: a scalar aggregate subquery "
    "(broadcast 1-row cross join, computed from exact DECIMAL sum / "
    "count so the threshold double is bit-identical), a NOT EXISTS "
    "decorrelated to LEFT ANTI join on the order keys (the anti side "
    "pre-projects o_custkey only, so the shuffle carries one slim "
    "column), and a map-side-combinable segment rollup. The balance "
    "filter applies BEFORE the anti join — the expensive probe runs "
    "on the filtered minority, not the full customer table.",
)
def q_global_sales_opportunity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-06-01")
        .select("o_custkey")
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(_dec("c_acctbal")).cast("double")
                / F.count(F.lit(1))
            ).alias("ab")
        )
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("ab")
    )
    no_orders = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return no_orders.groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        _dsum(_dec("c_acctbal")).alias("total_acctbal"),
    )


@_register(
    "min_cost_supplier_per_part",
    """
    WITH ranked AS (
        SELECT l_partkey, l_suppkey, l_extendedprice,
               ROW_NUMBER() OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_extendedprice, l_suppkey, l_orderkey,
                            l_linenumber
               ) AS rn
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_size <= 5
    )
    SELECT p.p_partkey AS partkey, p.p_brand AS brand,
           s.s_name AS supplier, n.n_name AS supplier_nation,
           ROUND(CAST(CAST(r.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE),
                 2) AS best_price
    FROM ranked r
    JOIN part p ON p.p_partkey = r.l_partkey
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE r.rn = 1
    """,
    "§2.11 relational core (TPC-H Q2 shape: per-group argmin + dims)",
    "The Q2 'minimum cost supplier' pattern mapped onto this schema "
    "(no partsupp table ships): for every small part (p_size <= 5), "
    "the supplier behind its single cheapest shipped line, decorated "
    "through the supplier->nation dimension path. The correlated "
    "MIN subquery becomes a per-group argmin under a TOTAL order "
    "(price, suppkey, orderkey, linenumber — the tiebreaker chain "
    "makes the winner unique, Q2's classic nondeterminism trap), "
    "executed as one row_number window over the size-filtered fact "
    "partition-pruned by the broadcast part join; dims broadcast onto "
    "the one-row-per-part result. At 100 TB the window partitions by "
    "partkey (millions of independent groups — no global sort), and "
    "the p_size filter prunes before the shuffle.",
)
def q_min_cost_supplier_per_part(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_linenumber",
        "l_extendedprice",
    )
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    small = F.broadcast(part.filter(F.col("p_size") <= 5))
    j = li.join(small, li.l_partkey == part.p_partkey)
    best = per_group_first(
        j,
        ["l_partkey"],
        [
            F.col("l_extendedprice"),
            F.col("l_suppkey"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_brand").alias("brand"),
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("supplier_nation"),
            F.round(
                _dec("l_extendedprice").cast("double"), 2
            ).alias("best_price"),
        )
    )


@_register(
    "local_supplier_volume",
    """
    SELECT n_name AS nation,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2)
               AS local_revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
                 AND s_nationkey = c_nationkey
    JOIN nation   ON n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
    "§2.11 relational core (TPC-H Q5 shape: cross-arm join equality)",
    "The Q5 'local supplier volume' pattern: revenue where the "
    "ordering CUSTOMER and the shipping SUPPLIER sit in the SAME "
    "nation — Q5's signature is that the two dimension arms are tied "
    "to each other (s_nationkey = c_nationkey), not just each to the "
    "fact, so the supplier join carries a compound condition and the "
    "nation rollup is correct only if the equality binds BEFORE the "
    "region filter prunes. Year predicate pushes into the orders "
    "scan; supplier/nation/region broadcast; the fact shuffles once "
    "on the orderkey join (customer rides broadcast at bench scale, "
    "AQE shuffles exactly that arm at 100 TB).",
)
def q_local_supplier_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    euro_nation = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey", "n_name")
    prod = _dec("l_extendedprice") * (
        F.lit(1) - _dec("l_discount", "decimal(4,2)")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(
            F.broadcast(euro_nation),
            cust.c_nationkey == euro_nation.n_nationkey,
        )
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        _dsum(prod).alias("local_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@_register(
    "large_volume_orders",
    """
    WITH oq AS (
        SELECT l_orderkey,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        FROM lineitem GROUP BY 1
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200
    )
    SELECT c_name AS customer, o_orderkey AS orderkey,
           epoch_us(o_orderdate) AS orderdate_us,
           ROUND(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2)
               AS total_price,
           ROUND(CAST(sum_qty AS DOUBLE), 2) AS sum_qty
    FROM oq
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY total_price DESC, orderkey
    LIMIT 20
    """,
    "§2.11 relational core (TPC-H Q18 shape: HAVING semi-join)",
    "The Q18 'large volume customers' pattern: orders whose total "
    "lineitem quantity beats a threshold (the IN-subquery-with-HAVING "
    "form), decorated with order and customer attributes, top-20 by "
    "price. The engine decorrelates the textbook IN to what it really "
    "is — ONE map-side-combinable per-order aggregate whose HAVING "
    "filter runs BEFORE any join, so only qualifying orders (0.6% of "
    "them at threshold 200) reach the orders join; customer broadcasts "
    "onto the survivors and the top-20 is TakeOrdered under a total "
    "order (price desc, orderkey). The aggregate-then-join order is "
    "the 100 TB discipline: joining first would decorate every order "
    "only to throw 99.4% away.",
)
def q_large_volume_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    oq = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        oq.join(orders, oq.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_name").alias("customer"),
            F.col("o_orderkey").alias("orderkey"),
            F.unix_micros("o_orderdate").alias("orderdate_us"),
            F.round(_dec("o_totalprice").cast("double"), 2).alias(
                "total_price"
            ),
            F.round(F.col("sum_qty").cast("double"), 2).alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), "orderkey")
        .limit(20)
    )


@_register(
    "dominant_part_suppliers",
    """
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    pt AS (
        SELECT l_partkey, SUM(q) AS t, COUNT(*) AS ns FROM ps GROUP BY 1
    ),
    dom AS (
        SELECT ps.l_suppkey, ps.q
        FROM ps JOIN pt ON pt.l_partkey = ps.l_partkey
        WHERE pt.ns >= 2 AND ps.q * pt.ns > 2 * pt.t
    )
    SELECT s_name AS supplier, n_name AS nation,
           COUNT(*) AS n_dominated_parts,
           ROUND(CAST(SUM(q) AS DOUBLE), 2) AS dominated_qty
    FROM dom
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY 1, 2
    """,
    "§2.11 relational core (TPC-H Q20 shape: per-group share threshold)",
    "The Q20 'excess availability' pattern adapted to this schema (no "
    "partsupp ships): suppliers who shipped MORE THAN TWICE a part's "
    "fair per-supplier share (q*ns > 2*t — supply-concentration "
    "detection), rolled up per supplier with nation decoration. Q20's "
    "correlated half-sum subquery decorrelates to the two-level "
    "aggregate (per-(part,supplier) cells, then per-part profile) "
    "joined back to the cells — the profile join carries cells only, "
    "never fact rows, and the threshold comparison is EXACT decimal x "
    "integer cross-multiplication: no float share, no epsilon, the "
    "boundary set is hash-stable by construction. Same "
    "aggregate-decorrelation family as sole_blame_suppliers (Q21) — "
    "the correlated probe becomes one profile relation.",
)
def q_dominant_part_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec("l_quantity")).alias("q")
    )
    pt = ps.groupBy("l_partkey").agg(
        F.sum("q").alias("t"), F.count(F.lit(1)).alias("ns")
    )
    dom = (
        ps.join(pt, "l_partkey")
        .filter(
            (F.col("ns") >= 2)
            & (F.col("q") * F.col("ns") > 2 * F.col("t"))
        )
        .select("l_suppkey", "q")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        dom.join(F.broadcast(supp), dom.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_dominated_parts"),
            F.round(F.sum("q").cast("double"), 2).alias("dominated_qty"),
        )
    )


@_register(
    "forecast_revenue_change",
    """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 2)
               AS forecast_revenue_increase,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "§2.11 relational core (TPC-H Q6 shape: scan-only filter aggregate)",
    "The Q6 'forecast revenue change' pattern — deliberately the "
    "SIMPLEST shape in the matrix: no join, no group, just conjunctive "
    "range predicates feeding one aggregate. The plan discipline IS "
    "the query: all three predicates (shipdate range, discount band, "
    "quantity cap) must reach the parquet scan as PushedFilters with "
    "only the 3 needed columns in ReadSchema, and the whole thing is "
    "one map-side partial + 1-row final — at 100 TB this query's cost "
    "is the I/O the pushdown leaves behind, nothing else. Money math "
    "exact: DECIMAL price x DECIMAL discount summed losslessly.",
)
def q_forecast_revenue_change(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(
                _dec("l_extendedprice") * _dec("l_discount", "decimal(4,2)")
            ).alias("forecast_revenue_increase"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_register(
    "nation_pair_volume",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(o_orderdate) AS INT) AS order_year,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2)
               AS volume,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_8')
       OR (sn.n_name = 'NATION_8' AND cn.n_name = 'NATION_3')
    GROUP BY 1, 2, 3
    """,
    "§2.11 relational core (TPC-H Q7 shape: symmetric nation-pair filter)",
    "The Q7 'volume shipping' pattern: trade volume between two "
    "nations in BOTH directions, per year — the symmetric disjunction "
    "((A,B) OR (B,A)) over attributes from two different dimension "
    "arms, which no single-side filter can express: each nation arm "
    "prunes to the 2-row union {A,B} (Catalyst derives "
    "sn IN (A,B) AND cn IN (A,B) from the disjunction and pushes it "
    "into each broadcast build side), while the cross-arm correlation "
    "evaluates post-join. Group cells bounded at 2 directions x "
    "years; the fact shuffles once on the orderkey join.",
)
def q_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | (
        (F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3")
    )
    prod = _dec("l_extendedprice") * (
        F.lit(1) - _dec("l_discount", "decimal(4,2)")
    )
    return (
        j.filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(
            _dsum(prod).alias("volume"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_register(
    "supplier_count_by_part_attrs",
    """
    WITH bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0),
    pairs AS (
        SELECT DISTINCT l_partkey, l_suppkey
        FROM lineitem
        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM bad)
    )
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45' AND p_size IN (1, 9, 19, 23, 36, 45, 49)
    GROUP BY 1, 2, 3
    """,
    "§2.11 relational core (TPC-H Q16 shape: anti-join + COUNT DISTINCT)",
    "The Q16 'parts/supplier relationship' pattern: distinct supplier "
    "counts per part attribute cell, EXCLUDING a blacklisted supplier "
    "set (the complaints NOT IN subquery — here, negative-balance "
    "suppliers). The engine order matters: the NOT IN decorrelates to "
    "a LEFT ANTI broadcast join applied to the fact BEFORE the "
    "distinct-pair collapse (excluded suppliers never reach the "
    "expensive stage), the (part, supplier) relation deduplicates "
    "map-side-combinably, the part dim broadcasts with its brand/size "
    "residue pruning the build side, and the COUNT DISTINCT runs over "
    "distinct pairs — already unique per group key, so it degenerates "
    "to a plain count with no Expand. NULL discipline: NOT IN with a "
    "non-empty subquery is only sane because s_suppkey is non-null; "
    "the anti join gives the same semantics without the NULL trap.",
)
def q_supplier_count_by_part_attrs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    pairs = (
        li.join(
            F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti"
        )
        .dropDuplicates(["l_partkey", "l_suppkey"])
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#45")
            & F.col("p_size").isin(1, 9, 19, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@_register(
    "part_type_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(ROUND(SUM(
               CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))
               - CAST(p_retailprice AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(9,0))
           ), 2) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey AND p_name LIKE '%widget%'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    GROUP BY 1, 2
    """,
    "§2.11 relational core (TPC-H Q9 shape: two-fact-column profit)",
    "The Q9 'product type profit' pattern adapted to this schema (no "
    "partsupp ships, so the part arm's p_retailprice plays "
    "ps_supplycost's role): revenue minus cost where the COST side "
    "mixes a dimension column into the per-row fact expression — Q9's "
    "distinguishing feature vs every pure-revenue shape. Filter "
    "p_name LIKE '%widget%' prunes the part arm (13% of parts) BEFORE "
    "it broadcasts; supplier/nation broadcast onto the fact; the only "
    "fact shuffle is the orderkey join for the year column. "
    "Arithmetic is exact end-to-end: price x (1-disc) carries scale "
    "4, retailprice x integral quantity scale 2, the subtraction "
    "aligns to scale 4 without rounding in BOTH engines, so the "
    "grouped DECIMAL sums are bit-equal and one final round(double,2) "
    "per (nation, year) cell closes the hash.",
)
def q_part_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = _dec("l_extendedprice") * (
        F.lit(1) - _dec("l_discount", "decimal(4,2)")
    ) - _dec("p_retailprice") * F.col("l_quantity").cast("decimal(9,0)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            # round the DECIMAL (scale 4 -> 2, exact half-away-from-zero
            # in BOTH engines) BEFORE the double cast: rounding after
            # the cast diverges when the binary double of an exact
            # x.xx5 boundary falls below it (r12: returned_item_ranking
            # hit 307843.595 -> Spark .60 vs DuckDB .59)
            F.round(F.sum(profit), 2).cast("double").alias("sum_profit")
        )
    )


@_register(
    "returned_item_ranking",
    """
    WITH rev AS (
        SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS r
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
             AND o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate <  TIMESTAMP '1996-04-01'
        JOIN customer ON c_custkey = o_custkey
        JOIN nation   ON n_nationkey = c_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY 1, 2, 3, 4, 5
    )
    SELECT c_custkey AS custkey, c_name AS customer,
           CAST(ROUND(r, 2) AS DOUBLE) AS revenue,
           c_acctbal AS acctbal, n_name AS nation,
           c_mktsegment AS segment
    FROM rev
    ORDER BY r DESC, custkey
    LIMIT 20
    """,
    "§2.11 relational core (TPC-H Q10 shape: returned-item ranking)",
    "The Q10 'returned item reporting' pattern: customers ranked by "
    "revenue LOST to returns (l_returnflag = 'R') in one quarter, "
    "decorated with account/nation/segment attributes. The quarter "
    "predicate rides the orders scan (PushedFilters) and the "
    "returnflag predicate the lineitem scan, so the orderkey join "
    "carries ~1/26th of orders x ~1/3rd of lineitems; customer and "
    "nation broadcast onto the grouped survivors. Top-20 is "
    "TakeOrdered under a TOTAL order — the EXACT decimal revenue "
    "first, custkey as tiebreaker — so the LIMIT contents are "
    "hash-stable; the double rounding happens only in the final "
    "projection, after the order is fixed.",
)
def q_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey", "c_mktsegment"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1) - _dec("l_discount", "decimal(4,2)"))
            ).alias("r")
        )
    )
    return (
        rev.orderBy(F.desc("r"), "c_custkey")
        .limit(20)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("customer"),
            # decimal-first rounding: see part_type_profit's note
            F.round(F.col("r"), 2).cast("double").alias("revenue"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
    )


@_register(
    "shipping_delay_priority_counts",
    """
    SELECT CASE
             WHEN date_diff('day', o_orderdate, l_shipdate) < 30
                  THEN 'FAST'
             WHEN date_diff('day', o_orderdate, l_shipdate) < 60
                  THEN 'MEDIUM'
             ELSE 'SLOW'
           END AS ship_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
    "§2.11 relational core (TPC-H Q12 shape: two-way CASE count)",
    "The Q12 'shipping modes and order priority' pattern adapted to "
    "this schema (no l_shipmode ships, so the mode class derives from "
    "the order-to-ship delay: <30d FAST, <60d MEDIUM, else SLOW): one "
    "pass over the 1997 ship-year lineitems counting urgent/high vs "
    "other order priorities per mode — the two complementary CASE "
    "sums in a single aggregate, never two scans. The year predicate "
    "is PushedFilters on the lineitem scan; orders contributes only "
    "(orderkey, orderdate, priority) through the one fact shuffle. "
    "Integer day arithmetic on midnight timestamps is engine-exact "
    "(Spark datediff == DuckDB date_diff('day')), so bucket "
    "boundaries cannot drift.",
)
def q_shipping_delay_priority_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_shipdate")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.when(delay < 30, "FAST")
            .when(delay < 60, "MEDIUM")
            .otherwise("SLOW")
            .alias("ship_bucket")
        )
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )
