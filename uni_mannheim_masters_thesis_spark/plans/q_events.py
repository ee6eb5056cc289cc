"""Event-analytics + streaming queries (windows, sessionization, funnels, stateful streaming twins).

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
    _spread,
    _t,
    streaming_hourly_event_stats,
)




# =========================================================================
# Events: time windows, sessionization, JSON, streaming
# =========================================================================


@_register(
    "events_hourly",
    """
    SELECT epoch_us(date_trunc('hour', ts)) AS hour_start_us,
           event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "§2.9/§2.11 (event-time tumbling window, batch)",
    "Hourly per-type event rollup; epoch-micros keys for oracle parity.",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_start_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(_dec("value")).alias("sum_value"),
        )
    )


@_register(
    "events_linear_interpolation",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*) AS v
        FROM events GROUP BY 1, 2
    ),
    b AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    hours AS (
        SELECT t.h FROM b,
               UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(h)
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    spine AS (SELECT h, event_type FROM hours CROSS JOIN types),
    j AS (
        SELECT epoch_us(spine.h) AS hu, spine.event_type, v
        FROM spine LEFT JOIN hourly
          ON spine.h = hourly.h AND spine.event_type = hourly.event_type
    ),
    carried AS (
        SELECT hu, event_type, v,
               last_value(v IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN hu END IGNORE NULLS)
                   OVER wp AS ph,
               last_value(v IGNORE NULLS) OVER wn AS nv,
               last_value(CASE WHEN v IS NOT NULL THEN hu END IGNORE NULLS)
                   OVER wn AS nh
        FROM j
        WINDOW wp AS (PARTITION BY event_type ORDER BY hu
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY event_type ORDER BY hu DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT hu AS hour_start_us, event_type,
           -- explicit half-up quantization: both engines share the
           -- bit-identical double, but ROUND() ties diverge (Spark
           -- half-up vs DuckDB half-even); floor(x*1e4 + 0.5) is
           -- mode-free
           FLOOR((CASE WHEN v IS NOT NULL THEN v
                       WHEN pv IS NULL THEN nv
                       WHEN nv IS NULL THEN pv
                       ELSE pv + (nv - pv)
                            * (CAST(hu - ph AS DOUBLE) / (nh - ph))
                  END) * 10000 + 0.5) / 10000 AS value_interp,
           v IS NULL AS is_interpolated
    FROM carried
    """,
    "§2.11 time series (linear-interpolation gap filling)",
    "The continuous complement of events_hourly_gapfill's zero-fill: "
    "silent hours on each event type's hourly mean-value series are "
    "filled by LINEAR interpolation between the nearest observed "
    "neighbors (leading/trailing gaps take the nearest edge value). "
    "Same two-direction carry-forward machinery as the nearest as-of "
    "join — one exchange on the series key feeding an ascending and a "
    "descending window sort, then a row-local lerp; the spine stays "
    "O(hours x types) off a 1-row bounds aggregate. Hourly means are "
    "exact-decimal-sum / count (one IEEE division), so the oracle's "
    "identical two-window program hashes bit-for-bit, interpolated "
    "values included.",
)
def q_events_linear_interpolation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        (F.sum(_dec("value")).cast("double") / F.count(F.lit(1))).alias("v")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("h")
    )
    types = ev.select("event_type").distinct()
    spine = hours.crossJoin(F.broadcast(types))
    j = spine.join(hourly, ["h", "event_type"], "left").select(
        F.unix_micros("h").alias("hu"), "event_type", "v"
    )
    frame = (Window.unboundedPreceding, Window.currentRow)
    wp = (
        Window.partitionBy("event_type").orderBy("hu").rowsBetween(*frame)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy(F.col("hu").desc())
        .rowsBetween(*frame)
    )
    obs_h = F.when(F.col("v").isNotNull(), F.col("hu"))
    carried = j.select(
        "hu",
        "event_type",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(wp).alias("ph"),
        F.last("v", ignorenulls=True).over(wn).alias("nv"),
        F.last(obs_h, ignorenulls=True).over(wn).alias("nh"),
    )
    lerp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("hu") - F.col("ph")).cast("double")
        / (F.col("nh") - F.col("ph"))
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(lerp)
    )
    # explicit half-up quantization — ROUND() ties diverge between
    # engines (Spark half-up, DuckDB half-even) on the shared double
    return carried.select(
        F.col("hu").alias("hour_start_us"),
        "event_type",
        (F.floor(filled * 10000 + F.lit(0.5)) / F.lit(10000.0)).alias(
            "value_interp"
        ),
        F.col("v").isNull().alias("is_interpolated"),
    )


@_register(
    "events_sessionization",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(1 + SUM(CASE WHEN prev_us IS NOT NULL AND epoch_us(ts) - prev_us > 1800000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
    FROM (SELECT user_id, ts,
                 LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
          FROM events)
    GROUP BY user_id
    """,
    "§2.11 sessionization (lag + gap threshold)",
    "Session counting with a 30-minute inactivity gap — the batch twin "
    "of session_window.",
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > 1_800_000_000
        ).alias("new_session"),
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (1 + F.sum(F.when(F.col("new_session"), 1).otherwise(0))).cast("long").alias(
            "n_sessions"
        ),
    )


@_register(
    "events_hourly_gapfill",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS sv
        FROM events GROUP BY 1, 2
    ),
    b AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    hours AS (
        SELECT t.h FROM b, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(h)
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    spine AS (SELECT h, event_type FROM hours CROSS JOIN types)
    SELECT epoch_us(h) AS hour_start_us, event_type,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
           ROUND(CAST(COALESCE(sv, CAST(0 AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_value
    FROM spine LEFT JOIN hourly USING (h, event_type)
    """,
    "§2.11 time series (calendar-spine gap filling)",
    "Dense hourly series per event type: a calendar spine generated "
    "from the observed [min, max] hour via sequence()/generate_series "
    "× the distinct type set, left-joined onto the hourly aggregate so "
    "silent hours surface as explicit zero rows — the resample/gap-fill "
    "primitive every downstream window or trend model needs (a missing "
    "row and a zero row are different answers). The spine is "
    "O(hours × types) — generated from a 1-row bounds aggregate, never "
    "collected to the driver — and the heavy side is the same hourly "
    "aggregate as events_hourly; at 100 TB the spine stays tiny and "
    "broadcastable while the fact aggregation shuffles (hour, type) "
    "partials.",
)
def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("value")).alias("sv"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("h")
    )
    types = ev.select("event_type").distinct()
    spine = hours.crossJoin(F.broadcast(types))
    return spine.join(hourly, ["h", "event_type"], "left").select(
        F.unix_micros("h").alias("hour_start_us"),
        "event_type",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        F.round(
            F.coalesce("sv", F.lit(0).cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("sum_value"),
    )


@_register(
    "measure_correlation",
    """
    WITH base AS (
        SELECT l_returnflag,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT) AS x,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y
        FROM lineitem
    ),
    agg AS (
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        FROM base GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                        * CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)),
                 6) + 0 AS corr_qty_price
    FROM agg
    """,
    "§2.11 statistics (exact Pearson correlation, decimal partials)",
    "Per-group Pearson correlation of quantity vs extended price with "
    "the user_value_trend determinism discipline: both measures scaled "
    "to exact integer centi-units, the five sufficient statistics "
    "summed EXACTLY (Spark DECIMAL(38,0) / DuckDB HUGEINT — "
    "order-independent under any partitioning), and the correlation "
    "evaluated in an identical double expression on both engines "
    "(numerator cast once, each variance term cast once, multiplied as "
    "doubles THEN square-rooted — same op order, same bits). The "
    "trailing + 0 normalizes a rounded -0.0. One shuffle (the "
    "group-by); float native corr()/covar partials would be "
    "partition-order dependent — this is the exact replacement.",
)
def q_measure_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    x = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast(
        "decimal(18,0)"
    )
    y = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "decimal(18,0)"
    )
    agg = (
        li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    nn = F.col("n").cast("decimal(38,0)")
    num = (nn * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (nn * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (nn * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return agg.select(
        "l_returnflag",
        "n",
        (F.round(num / F.sqrt(dx * dy), 6) + F.lit(0.0)).alias(
            "corr_qty_price"
        ),
    )


@_register(
    "session_paths",
    """
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(epoch_us(ts)) OVER w IS NOT NULL
                         AND epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM seq
    ),
    paths AS (
        SELECT user_id, sid,
               array_to_string(
                   (list(event_type ORDER BY ts, event_id))[1:5], '>')
                   AS path
        FROM sess GROUP BY user_id, sid
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
    "§2.11 event analytics (session path mining)",
    "Top-20 session journeys: each 30-min-gap session's ordered "
    "event-type sequence (first 5 steps), counted across the corpus — "
    "the path-mining view that complements the funnel (which fixes the "
    "sequence) and attribution (which keeps only the first touch). "
    "Determinism: the step order is the unique (ts, event_id) key, "
    "assembled via array_sort over collected structs (collect_list is "
    "partition-order nondeterministic; the sort makes it exact — the "
    "lexicon-regroup pattern). Plan shape: the session machinery rides "
    "the one user-keyed exchange, per-path counting is a small "
    "second shuffle, top-20 via ORDER+LIMIT plans as TakeOrdered — "
    "no global sort materialization at any scale.",
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1_800_000_000
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_s = F.when(
        prev_us.isNotNull() & (F.unix_micros("ts") - prev_us > gap_us), 1
    ).otherwise(0)
    sess = ev.withColumn(
        "sid", F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    path = F.concat_ws(
        ">",
        F.slice(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            1,
            5,
        ),
    )
    paths = sess.groupBy("user_id", "sid").agg(path.alias("path"))
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


@_register(
    "events_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           ROUND(CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS avg_k
    FROM events GROUP BY event_type
    """,
    "§2.11 JSON functions over the props column",
    "get_json_object extraction + integer aggregation.",
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.sum("k").cast("double") / F.count(F.lit(1)), 6).alias("avg_k"),
        )
    )


@_register(
    "event_type_share",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6) AS share
    FROM events GROUP BY event_type
    """,
    "§2.9 window-over-aggregate",
    "Per-type share of total events. The oracle spells it as a window "
    "over an aggregate; the Spark plan computes the global total as a "
    "1-row aggregate broadcast-crossed back instead of an empty-"
    "partition window — same result, no single-partition WindowExec "
    "(and no `No Partition Defined` warning noise in bench logs).",
)
def q_event_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    total = F.broadcast(agg.agg(F.sum("n_events").alias("__total")))
    return agg.crossJoin(total).select(
        "event_type",
        "n_events",
        F.round(
            F.col("n_events").cast("double") / F.col("__total"), 6
        ).alias("share"),
    )


@_register(
    "top_users_by_value",
    """
    SELECT user_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    ORDER BY total_value DESC, user_id
    LIMIT 10
    """,
    "O4 (global top-k after aggregation)",
    "Top-10 users by exact-decimal total event value.",
)
def q_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            _dsum(_dec("value")).alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.desc("total_value"), "user_id")
        .limit(10)
    )


@_register(
    "streaming_events_hourly",
    """
    SELECT epoch_us(date_trunc('hour', ts)) AS hour_start_us,
           event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "§2.9 Structured Streaming (watermark + tumbling window)",
    "The events_hourly aggregation executed as a REAL streaming query "
    "(memory sink, processAllAvailable). Oracle-exact: epoch-aligned "
    "1-hour tumbling windows are date_trunc('hour') buckets, so the "
    "batch SQL replays the drained stream result bit-for-bit (decimal "
    "sum, 2-decimal round on both engines).",
)
def q_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_hourly_event_stats(spark, sf_dir)


@_register(
    "events_sliding_window",
    """
    SELECT epoch_us(date_trunc('hour', ts) - off * INTERVAL 1 HOUR) AS win_start_us,
           event_type,
           COUNT(*) AS n_events
    FROM events, (VALUES (0), (1)) o(off)
    GROUP BY 1, 2
    """,
    "§2.9 sliding window (2h window, 1h slide)",
    "Sliding event-time windows: each event lands in two overlapping "
    "2-hour windows (Spark window(ts, '2 hours', '1 hour')).",
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "event_type",
            "n_events",
        )
    )


@_register(
    "funnel_conversion",
    """
    WITH base AS (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts, event_type
        FROM events
    ),
    w1 AS (
        SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
                      OVER (PARTITION BY user_id) AS t1
        FROM base
    ),
    w2 AS (
        SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
        FROM w1
    ),
    w3 AS (
        SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                      OVER (PARTITION BY user_id) AS t3
        FROM w2
    )
    SELECT user_id, MIN(t1) AS view_us, MIN(t2) AS click_us,
           MIN(t3) AS purchase_us,
           CAST(CASE WHEN MIN(t3) IS NOT NULL THEN 3
                     WHEN MIN(t2) IS NOT NULL THEN 2
                     WHEN MIN(t1) IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stages_completed
    FROM w3 GROUP BY user_id
    """,
    "§2.11 event analytics (staged funnel, strict sequence order)",
    "Per-user funnel completion view → click → purchase under strict "
    "temporal ordering: stage k+1 only counts if it happens AFTER the "
    "user's earliest qualifying stage-k event. Each stage's timestamp "
    "is a conditional MIN window over the user partition — the three "
    "windows and the final aggregate all share the user_id hash "
    "partitioning, so the whole funnel costs ONE shuffle and no "
    "self-joins (the naive per-stage join chain would shuffle the fact "
    "table once per stage). Exact integer micros end-to-end, so the "
    "manifest is bit-deterministic. At 100 TB the plan is "
    "embarrassingly parallel by user; skewed power-users only widen "
    "one partition's sort, which AQE splits.",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    base = ev.select(
        "user_id", F.unix_micros("ts").alias("ts"), "event_type"
    )
    s1 = base.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    return (
        s3.groupBy("user_id")
        .agg(
            F.min("t1").alias("view_us"),
            F.min("t2").alias("click_us"),
            F.min("t3").alias("purchase_us"),
        )
        .withColumn(
            "stages_completed",
            F.when(F.col("purchase_us").isNotNull(), 3)
            .when(F.col("click_us").isNotNull(), 2)
            .when(F.col("view_us").isNotNull(), 1)
            .otherwise(0)
            .cast("int"),
        )
    )


@_register(
    "cohort_retention",
    """
    WITH cohorts AS (
        SELECT user_id,
               date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
        FROM events
    ),
    sizes AS (
        SELECT cohort_week, COUNT(*) AS cohort_size
        FROM cohorts GROUP BY cohort_week
    )
    SELECT CAST(epoch_us(c.cohort_week) AS BIGINT) AS cohort_week_us,
           CAST((epoch_us(a.active_week) - epoch_us(c.cohort_week))
                / 604800000000 AS BIGINT) AS week_offset,
           COUNT(*) AS n_active,
           ROUND(CAST(COUNT(*) AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM activity a
    JOIN cohorts c USING (user_id)
    JOIN sizes s ON s.cohort_week = c.cohort_week
    GROUP BY c.cohort_week, s.cohort_size, a.active_week
    """,
    "§2.11 event analytics (cohort retention matrix)",
    "Weekly cohort retention: users are cohorted by the week of their "
    "first event, every (user, active-week) pair counts once, and each "
    "cohort×offset cell reports active users and the retention rate "
    "against the cohort size. All three building blocks are user_id- "
    "keyed aggregates/joins (min-week, distinct activity, size rollup) "
    "that share one hash partitioning before the final small "
    "cohort-cell aggregate; the retention division is exact-int/"
    "exact-int in both engines so the 6-decimal round never straddles. "
    "Week arithmetic is UTC date_trunc — offsets are exact multiples "
    "of 604800e6 micros, no DST drift. At 100 TB the heavy stages "
    "shuffle (user_id) and (user_id, week) only; cohort cells are "
    "O(weeks²) — trivially small.",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    week_us = 604_800_000_000
    return (
        activity.join(cohorts, "user_id")
        .join(sizes, "cohort_week")
        .groupBy("cohort_week", "cohort_size", "active_week")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            F.unix_micros("cohort_week").alias("cohort_week_us"),
            (
                (F.unix_micros("active_week") - F.unix_micros("cohort_week"))
                / F.lit(week_us)
            )
            .cast("long")
            .alias("week_offset"),
            "n_active",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
    )


@_register(
    "session_attribution",
    """
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type, value,
               CASE WHEN LAG(epoch_us(ts)) OVER w IS NOT NULL
                         AND epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM seq
    ),
    per_sess AS (
        SELECT user_id, session_id,
               (MIN({'t': ts, 'e': event_id, 'y': event_type}))['y'] AS entry_type,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS purchase_value,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch
        FROM sess GROUP BY user_id, session_id
    )
    SELECT entry_type,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converting,
           CAST(SUM(n_purch) AS BIGINT) AS n_purchases,
           ROUND(CAST(SUM(purchase_value) AS DOUBLE), 2) AS attributed_value
    FROM per_sess GROUP BY entry_type
    """,
    "§2.11 event analytics (first-touch session attribution)",
    "First-touch attribution: sessions are cut at 30-minute inactivity "
    "gaps (the events_sessionization convention), each session's entry "
    "channel is the event_type of its FIRST event (exact lexicographic "
    "min over the unique (ts, event_id) pair — min(struct), no "
    "first_value nondeterminism), and all purchase value inside the "
    "session is attributed to that channel. Plan shape: the lag window, "
    "the running-sum session id, AND the per-session aggregate all key "
    "on user_id — Spark's ClusteredDistribution accepts the "
    "(user_id)-hash partitioning for the (user_id, session_id) "
    "groupBy, so the whole pipeline rides ONE user-keyed exchange "
    "before the final 5-row channel rollup (same single-shuffle "
    "contract as funnel_conversion; plan-regression-tested). Purchase "
    "sums are DECIMAL-exact; the double cast happens once at output.",
)
def q_session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1_800_000_000
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_s = F.when(
        prev_us.isNotNull() & (F.unix_micros("ts") - prev_us > gap_us), 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    dec0 = F.lit(0).cast("decimal(18,2)")
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "entry_type"
        ),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", _dec("value")
            ).otherwise(dec0)
        ).alias("purchase_value"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purch"),
    )
    return per_sess.groupBy("entry_type").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_purch") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_converting"),
        F.sum("n_purch").cast("long").alias("n_purchases"),
        F.round(F.sum("purchase_value").cast("double"), 2).alias(
            "attributed_value"
        ),
    )


@_register(
    "rolling_user_features",
    """
    SELECT user_id, event_id,
           COUNT(*) OVER w AS roll_n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 2)
               AS roll_sum,
           ROUND(CAST(MAX(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 2)
               AS roll_max,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / (COUNT(*) OVER w), 6) AS roll_mean
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
    "§2.11 event analytics (per-entity rolling-window feature frame)",
    "ML feature generation: for every event, the count / exact-decimal "
    "sum / max / mean of the user's last ≤5 event values in "
    "event-time order — the ROWS-frame sliding window that feeds "
    "per-entity behavioral features into a training table (the RANGE "
    "twin is rolling_week_order_value). One user-keyed exchange; the "
    "frame is bounded (5 rows) so window state is O(1) per row "
    "regardless of user history length. The sum is DECIMAL-exact; "
    "roll_mean divides its one double cast by the exact integer count, "
    "so both engines round an identical quotient. Deterministic: "
    "(ts, event_id) is a unique order key.",
)
def q_rolling_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    roll_sum = F.round(F.sum(_dec("value")).over(w).cast("double"), 2)
    roll_n = F.count(F.lit(1)).over(w)
    return ev.select(
        "user_id",
        "event_id",
        roll_n.alias("roll_n"),
        roll_sum.alias("roll_sum"),
        F.round(F.max(_dec("value")).over(w).cast("double"), 2).alias(
            "roll_max"
        ),
        F.round(
            F.sum(_dec("value")).over(w).cast("double") / roll_n, 6
        ).alias("roll_mean"),
    )


@_register(
    "stateful_user_counts",
    """
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
    "§2.9 streaming (custom stateful operator, applyInPandasWithState)",
    "Per-user running counters kept in GroupState across micro-batches "
    "(integer-cents accumulation for exactness); the oracle checks the "
    "final state equals the batch GROUP BY.",
)
def q_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import stateful_user_counts

    return stateful_user_counts(spark, sf_dir)


@_register(
    "streaming_sessionization",
    """
    WITH seq AS (
        SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
               -- event_id tiebreaker: with duplicate (user_id, ts) rows
               -- (the 10x scaled corpus has 10 copies of every event) a
               -- bare ts order lets the lag scan and the cumsum scan
               -- sort ties DIFFERENTLY, splitting phantom sessions
               -- inside tie blocks (observed: +5 rows at sf1)
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_us
        FROM events
    ),
    marked AS (
        SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                       THEN 1 ELSE 0 END AS is_new
        FROM seq
    ),
    sess AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id, MIN(us) AS session_start_us, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
    "§2.9 streaming (session_window state merging)",
    "Gap-based sessions (30 min) maintained in the streaming state "
    "store via native session_window. Oracle-exact: DuckDB replays the "
    "merge with gaps-and-islands (a new session starts when the gap to "
    "the previous event is ≥ the 30-min window — session_window merges "
    "only strictly-overlapping [ts, ts+gap) intervals), then aggregates "
    "per island. Same decimal sum + round discipline as the batch twin.",
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import streaming_sessionization

    return streaming_sessionization(spark, sf_dir)


@_register(
    "streaming_session_attribution",
    """
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type, value, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_us
        FROM events
    ),
    marked AS (
        SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                       THEN 1 ELSE 0 END AS is_new
        FROM seq
    ),
    sess AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    ),
    per_sess AS (
        SELECT user_id, sid,
               (MIN({'t': ts, 'e': event_id, 'y': event_type}))['y'] AS entry_type,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS purchase_value,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch
        FROM sess GROUP BY user_id, sid
    )
    SELECT entry_type,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converting,
           CAST(SUM(n_purch) AS BIGINT) AS n_purchases,
           ROUND(CAST(SUM(purchase_value) AS DOUBLE), 2) AS attributed_value
    FROM per_sess GROUP BY entry_type
    """,
    "§2.9/§2.11 streaming (session_window first-touch attribution)",
    "The streaming twin of session_attribution: session_window state "
    "merging carries the lexicographic-min (ts, event_id, event_type) "
    "entry struct (min over structs is ASSOCIATIVE, so out-of-order "
    "merges preserve first-touch exactly), the DECIMAL purchase sum, "
    "and the purchase count per open session; the drained per-session "
    "frame rolls up per entry channel. Oracle-exact via the "
    "gaps-and-islands replay with session_window's >= gap boundary "
    "(the batch twin's lag rule is strictly >; both agree unless a gap "
    "is exactly 30:00.000000). State is bounded by ACTIVE sessions, "
    "not input volume — the watermark closes sessions 1 h after their "
    "last event.",
)
def q_streaming_session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import streaming_session_attribution

    return streaming_session_attribution(spark, sf_dir)


@_register(
    "streaming_events_by_segment",
    """
    SELECT c_mktsegment AS segment, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY c_mktsegment
    """,
    "§2.9 streaming (stream-static broadcast join)",
    "The event stream enriched against the static customer dimension "
    "(broadcast per micro-batch, no stream-side shuffle), aggregated per "
    "segment; oracle-checked against the equivalent batch join.",
)
def q_streaming_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import streaming_events_by_segment

    return streaming_events_by_segment(spark, sf_dir)


@_register(
    "streaming_interval_join",
    """
    SELECT c.user_id,
           COUNT(*) AS n_pairs,
           ROUND(CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    """,
    "§2.9 streaming (stream-stream interval join)",
    "TWO watermarked event streams joined on user with a 30-minute "
    "time bound (click → subsequent purchases): the canonical "
    "Structured Streaming stateful two-stream join, where the interval "
    "condition is what lets the state store evict each side once the "
    "other's watermark passes. Drained append pairs are aggregated per "
    "user; the oracle replays the identical batch interval self-join.",
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import streaming_interval_join

    return streaming_interval_join(spark, sf_dir)


@_register(
    "events_asof_join",
    """
    WITH tagged AS (
        SELECT user_id, epoch_us(ts) AS ts_us, 0 AS tag, event_id,
               epoch_us(ts) AS q_ts, value AS q_value
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, epoch_us(ts) AS ts_us, 1 AS tag, event_id,
               NULL AS q_ts, NULL AS q_value
        FROM events WHERE event_type = 'click'
    ),
    carried AS (
        SELECT user_id, ts_us, tag, event_id,
               last_value(q_ts IGNORE NULLS) OVER w AS asof_ts_us,
               last_value(q_value IGNORE NULLS) OVER w AS asof_value
        FROM tagged
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, tag, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts_us AS click_ts_us, asof_ts_us,
           ROUND(CAST(asof_value AS DOUBLE), 2) AS asof_value
    FROM carried WHERE tag = 1
    """,
    "§2.11 custom temporal operator (as-of join)",
    "For every click, the user's latest purchase at-or-before it. "
    "Union-merge form: one window over (user, ts) with carry-forward — "
    "single shuffle, linear in rows, no range-join pair blowup (the "
    "100 TB-safe as-of pattern). Oracle runs the identical window "
    "program in DuckDB.",
)
def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import asof_join

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", "event_id", "value"
    )
    out = asof_join(
        clicks, purchases, on="user_id", ts_col="ts_us",
        value_cols=["value"], seq_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("click_ts_us"),
        F.col("asof_ts_us"),
        F.round(F.col("asof_value").cast("double"), 2).alias("asof_value"),
    )


_ASOF_TOL_US = 43_200_000_000  # 12 h — splits matches vs nulled-out


@_register(
    "events_asof_nearest",
    f"""
    WITH tagged AS (
        SELECT user_id, epoch_us(ts) AS ts_us, 0 AS tag, event_id,
               epoch_us(ts) AS q_ts, value AS q_value
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, epoch_us(ts) AS ts_us, 1 AS tag, event_id,
               NULL AS q_ts, NULL AS q_value
        FROM events WHERE event_type = 'click'
    ),
    carried AS (
        SELECT user_id, ts_us, tag, event_id,
               last_value(q_ts IGNORE NULLS) OVER wb AS b_ts,
               last_value(q_value IGNORE NULLS) OVER wb AS b_value,
               last_value(q_ts IGNORE NULLS) OVER wf AS f_ts,
               last_value(q_value IGNORE NULLS) OVER wf AS f_value
        FROM tagged
        WINDOW wb AS (PARTITION BY user_id ORDER BY ts_us, tag, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id
                      ORDER BY ts_us DESC, tag, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    chosen AS (
        SELECT event_id, user_id, ts_us,
               CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL
                         AND (ts_us - b_ts) <= (f_ts - ts_us))
                    THEN b_ts ELSE f_ts END AS n_ts,
               CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL
                         AND (ts_us - b_ts) <= (f_ts - ts_us))
                    THEN b_value ELSE f_value END AS n_value
        FROM carried WHERE tag = 1
    )
    SELECT event_id, user_id, ts_us AS click_ts_us,
           CASE WHEN n_ts IS NOT NULL
                 AND ABS(ts_us - n_ts) <= {_ASOF_TOL_US}
                THEN n_ts END AS asof_ts_us,
           CASE WHEN n_ts IS NOT NULL
                 AND ABS(ts_us - n_ts) <= {_ASOF_TOL_US}
                THEN ROUND(CAST(n_value AS DOUBLE), 2) END AS asof_value
    FROM chosen
    """,
    "§2.11 custom temporal operator (as-of join: nearest + tolerance)",
    "The rest of the merge_asof surface events_asof_join leaves "
    "uncovered: for every click, the NEAREST purchase in either "
    "direction (ties break backward, the pandas convention), nulled "
    "out past a 12-hour tolerance. Same union-merge scale shape as "
    "the backward join — one key exchange feeding TWO window sorts "
    "(ascending and descending carry-forward), then a row-local "
    "chooser and tolerance predicate; still linear in rows, still no "
    "range-join pair blowup. The oracle runs the identical two-window "
    "program in DuckDB, so a wrong tie-break, a forward carry off by "
    "one row, or a tolerance edge ( <= vs < ) breaks the hash.",
)
def q_events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import asof_join

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", "event_id", "value"
    )
    out = asof_join(
        clicks, purchases, on="user_id", ts_col="ts_us",
        value_cols=["value"], seq_col="event_id",
        direction="nearest", tolerance=_ASOF_TOL_US,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("click_ts_us"),
        F.col("asof_ts_us"),
        F.round(F.col("asof_value").cast("double"), 2).alias("asof_value"),
    )


@_register(
    "event_pattern_match",
    """
    WITH seq AS (
        SELECT user_id, COUNT(*) AS n_events,
               string_agg(substring(event_type, 1, 1), ''
                          ORDER BY epoch_us(ts), event_id) AS s
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(len(regexp_extract_all(s, 'v[vc]*p')) AS BIGINT)
               AS n_conversion_runs,
           CAST(len(regexp_extract_all(s, 'ee+')) AS BIGINT)
               AS n_error_bursts
    FROM seq
    """,
    "§2.11 event analytics (MATCH_RECOGNIZE-style sequence patterns)",
    "Row-pattern recognition without a MATCH_RECOGNIZE engine: each "
    "user's event history collapses to an ordered initial-string "
    "(deterministic (ts, event_id) sort inside one groupBy — the "
    "exchange moves 1-char tokens, never payloads), and conversion "
    "runs (view, then views/clicks, then purchase: 'v[vc]*p') and "
    "error bursts ('ee+') are counted with a row-local regex — the "
    "same left-to-right non-overlapping scan in Spark's regexp_count "
    "and DuckDB's regexp_extract_all, so the counts hash. "
    "Complements the fixed-stage funnel (funnel_conversion) with "
    "arbitrary-pattern matching; at 100 TB the per-user string is "
    "bounded by activity (sessionize first to bound it harder), and "
    "the whole query is one key exchange.",
)
def q_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("ts_us"),
            F.col("event_id"),
            F.substring("event_type", 1, 1).alias("i"),
        ).alias("e"),
    )
    seq = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("e")), lambda e: e["i"]
            ),
            "",
        ).alias("s"),
    )
    return seq.select(
        "user_id",
        "n_events",
        F.regexp_count("s", F.lit("v[vc]*p")).alias("n_conversion_runs"),
        F.regexp_count("s", F.lit("ee+")).alias("n_error_bursts"),
    )


@_register(
    "streaming_first_event_per_user_type",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
    "§2.9 streaming (stateful dropDuplicates with watermark)",
    "Streaming dedup: keep the first event per (user, type) — state one "
    "row per pair, bounded by the watermark — then count users per "
    "type. Arrival order cannot change the counts, so the batch "
    "COUNT(DISTINCT) is the exact oracle.",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.testdata import event_stream
    from ..streaming.runtime import drain

    stream = (
        event_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
    )
    return (
        drain(stream, "append", name_prefix="dedup")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def _heavy_hitter_report(
    events: DataFrame, counters: DataFrame, extra_flags: list[F.Column] | None = None
) -> DataFrame:
    """Exact top-10 users with CMS-contract flags probed against a
    counter table (batch- or streaming-built)."""
    from ..operators.sketches import cms_estimates

    top = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), "user_id")
        .limit(10)
        .localCheckpoint(eager=True)  # 10 rows; reused by 3 plan branches
    )
    a, b = top.alias("a"), top.alias("b")
    rank = (
        a.join(
            b,
            (F.col("b.n_events") > F.col("a.n_events"))
            | (
                (F.col("b.n_events") == F.col("a.n_events"))
                & (F.col("b.user_id") < F.col("a.user_id"))
            ),
            "left",
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg((F.count(F.col("b.user_id")) + 1).cast("int").alias("rank"))
    )
    est = cms_estimates(top, counters, "user_id")
    total = F.broadcast(events.agg(F.count(F.lit(1)).alias("n_total")))
    return (
        top.join(rank, "user_id")
        .join(est, "user_id")
        .crossJoin(total)
        .select(
            "user_id",
            "n_events",
            "rank",
            (F.col("est") >= F.col("n_events")).alias("ok_cms_ge_exact"),
            (F.col("est") <= F.col("n_events") + F.ceil(0.01 * F.col("n_total")))
            .alias("ok_cms_within_eps"),
            *(extra_flags or []),
        )
        .orderBy(F.desc("n_events"), "user_id")
    )


@_register(
    "heavy_hitters_sketch",
    """
    WITH counts AS (
        SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS INT) AS rank,
           TRUE AS ok_cms_ge_exact,
           TRUE AS ok_cms_within_eps
    FROM counts
    ORDER BY n_events DESC, user_id
    LIMIT 10
    """,
    "§2.11 sketches (count-min heavy hitters vs exact top-k)",
    "Heavy-hitter detection with a count-min sketch cross-checked "
    "against the exact group-count, built ENTIRELY as DataFrame "
    "aggregations: the CMS counter table is depth=5 seeded xxhash64 "
    "rows x width=2048 buckets, i.e. one explode + groupBy whose "
    "counters are plain sums (commutative, so the sketch is "
    "bit-identical under any partitioning); estimates for the exact "
    "top-10 users come from joining their bucket coordinates back "
    "against the counter table and taking min over the depth rows. "
    "The output carries the exact counts (hash-verified against "
    "DuckDB) plus two invariant flags: ok_cms_ge_exact is a "
    "mathematical CMS guarantee (estimates never undercount), "
    "ok_cms_within_eps checks est <= exact + 1%% of total mass — both "
    "deterministic, so the oracle states them as TRUE literals. Scale "
    "shape: the exact side is one map-side-combining aggregation + "
    "top-k; the sketch side shuffles at most depth*width = 10,240 "
    "counter rows regardless of input size — the 100 TB path for key "
    "cardinalities too large to group exactly.",
)
def q_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_counter_table

    events = _t(spark, sf_dir, "events")
    return _heavy_hitter_report(events, cms_counter_table(events, "user_id"))


@_register(
    "streaming_heavy_hitters",
    f"""
    SELECT user_id, n_events, rank, ok_cms_ge_exact, ok_cms_within_eps,
           TRUE AS ok_stream_equals_batch
    FROM ({REGISTRY['heavy_hitters_sketch'].sql})
    """,
    "§2.9/§2.11 (streaming sketch: bounded-state CMS over the stream)",
    "The count-min sketch maintained BY a Structured Streaming query: "
    "a streaming groupBy over CMS bucket coordinates, whose state "
    "store is bounded at depth*width = 10,240 rows — independent of "
    "input volume AND key cardinality, unlike a per-key streaming "
    "count whose state grows with distinct keys. Because counter sums "
    "commute, the streamed sketch must be BIT-IDENTICAL to the "
    "batch-built one over the same events: ok_stream_equals_batch "
    "asserts zero mismatched counter cells (full outer join of the "
    "two 10,240-row tables), and the heavy-hitter report is probed "
    "from the STREAMED counters. At 100 TB streaming volume this is "
    "the approximate top-k shape: tiny fixed state, mergeable across "
    "executors, point-queried without stopping the stream.",
)
def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_counter_table
    from ..streaming.events import streaming_cms_counters

    events = _t(spark, sf_dir, "events")
    streamed = streaming_cms_counters(spark, sf_dir).select(
        "hi", "bucket", F.col("c").alias("sc")
    )
    batch = cms_counter_table(events, "user_id").select(
        "hi", "bucket", F.col("c").alias("bc")
    )
    mismatch = (
        streamed.join(batch, ["hi", "bucket"], "full")
        .where(~F.col("sc").eqNullSafe(F.col("bc")))
    )
    eq = F.broadcast(
        mismatch.agg(
            (F.count(F.lit(1)) == 0).alias("ok_stream_equals_batch")
        )
    )
    report = _heavy_hitter_report(
        events, streamed.select("hi", "bucket", F.col("sc").alias("c"))
    )
    return report.crossJoin(eq)


@_register(
    "streaming_throughput_report",
    None,
    "§2.9 streaming (multi-micro-batch state-store evidence)",
    "r6 verdict task 5: the sessionization + interval-join pair driven "
    "through 12 time-ordered file-drop micro-batches "
    "(maxFilesPerTrigger=1 over a sequentially-written time-sliced "
    "events table) instead of the usual single-batch drain. One row "
    "per (provider, query, micro-batch) with input rows, trigger latency, and "
    "state rows, under four HARD invariants: >=10 data batches per "
    "query, flat per-batch latency (last-3 median <= 3x early median), "
    "watermark actually evicting two-stream join state, and the "
    "multi-batch join retaining EXACTLY the batch self-join's pairs "
    "(in-order replay loses nothing to eviction). Since r8 the whole "
    "replay runs TWICE — default HDFS-backed provider AND RocksDB "
    "(the 100 TB state backend), swapped by session conf alone — and "
    "every invariant must hold under both; rows carry provider and "
    "reported state bytes.",
)
def q_streaming_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.throughput import streaming_throughput_report

    return streaming_throughput_report(spark, sf_dir)


@_register(
    "ewma_user_value",
    """
    WITH ev AS (
        SELECT user_id, value, epoch_us(ts) AS us, event_id FROM events
    ),
    ranked AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM ev
    ),
    terms AS (
        SELECT user_id, n,
               CASE WHEN rn = n THEN value END AS last_v,
               CAST(ROUND(CASE WHEN rn = 1 THEN pow(0.8, n - 1) * value
                               ELSE 0.2 * pow(0.8, n - rn) * value END, 9)
                    AS DECIMAL(18,9)) AS t9
        FROM ranked
    )
    SELECT user_id,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_events,
           ROUND(MAX(last_v), 2) + 0 AS last_value,
           ROUND(CAST(SUM(t9) AS DOUBLE), 6) + 0 AS ewma
    FROM terms GROUP BY user_id
    """,
    "§2.11 feature engineering (exponentially-weighted moving average)",
    "Per-user EWMA of event values (alpha=0.2, init = first value — the "
    "pandas adjust=False recursion ewma_i = 0.2*x_i + 0.8*ewma_{i-1}), "
    "computed by its CLOSED FORM instead of the sequential recursion: "
    "each event contributes weight 0.8^(n-i)*0.2 (the first 0.8^(n-1)) "
    "toward the final smoothed value, so the per-event terms are "
    "independent, 9-decimal-quantized, and summed as DECIMAL — exact "
    "and order-independent where the textbook recursion would force a "
    "sequential per-key fold (the per-term quantization perturbs the "
    "sum by < n*5e-10, far inside the 6-decimal output round). One "
    "user_id exchange carries the rank window, the count window, and "
    "the final aggregate (plan-tested single shuffle, no joins); at "
    "100 TB this is a map-side-combinable aggregate over narrow "
    "(user_id, weight-indexed value) rows — the streaming twin is a "
    "trivial applyInPandasWithState fold, but the batch path never "
    "needs per-key sequential state at all.",
)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "value", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wc = Window.partitionBy("user_id")
    ranked = ev.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    weight = F.when(
        F.col("rn") == 1, F.pow(F.lit(0.8), F.col("n") - 1) * F.col("value")
    ).otherwise(
        F.lit(0.2) * F.pow(F.lit(0.8), F.col("n") - F.col("rn")) * F.col("value")
    )
    terms = ranked.select(
        "user_id",
        "n",
        F.when(F.col("rn") == F.col("n"), F.col("value")).alias("last_v"),
        F.round(weight, 9).cast("decimal(18,9)").alias("t9"),
    )
    return terms.groupBy("user_id").agg(
        F.any_value("n").cast("long").alias("n_events"),
        (F.round(F.max("last_v"), 2) + F.lit(0.0)).alias("last_value"),
        (F.round(F.sum("t9").cast("double"), 6) + F.lit(0.0)).alias("ewma"),
    )


def _streaming_ewma_parity_sql() -> str:
    return f"""
    SELECT user_id, n_events, last_value, ewma,
           TRUE AS ok_stream_matches_batch
    FROM ({REGISTRY['ewma_user_value'].sql})
    """


@_register(
    "streaming_ewma_parity",
    _streaming_ewma_parity_sql(),
    "§2.9/§2.11 (custom stateful streaming: per-key EWMA state)",
    "The streaming twin of ewma_user_value, checked the "
    "streaming_heavy_hitters way: the hashed VALUES are the batch "
    "closed form's (oracle-exact), and the stream evidence is the "
    "ok_stream_matches_batch flag — an applyInPandasWithState query "
    "folds the textbook per-key recursion (one (n, ewma) state row per "
    "user, O(1) per event, event-time order enforced inside each "
    "batch) and every user's streamed result must agree with the batch "
    "closed form to 1e-5 (they are the same real-number quantity "
    "evaluated in different float orders; observed agreement ~1e-9 "
    "relative). A flag flipped false hash-mismatches the oracle's TRUE "
    "— stream divergence fails the correctness gate, not just a test. "
    "This is the batch-avoids-what-streams-need pairing: the batch "
    "path has no sequential fold at all, the stream keeps exactly the "
    "O(keys) state Structured Streaming is designed to carry.",
)
def q_streaming_ewma_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import streaming_ewma

    batch = q_ewma_user_value(spark, sf_dir)
    stream = streaming_ewma(spark, sf_dir).select(
        "user_id",
        F.col("n_events").alias("s_n"),
        F.col("ewma").alias("s_ewma"),
    )
    ok = (F.col("s_n") == F.col("n_events")) & (
        F.abs(F.col("s_ewma") - F.col("ewma")) < F.lit(1e-5)
    )
    return batch.join(stream, "user_id").select(
        "user_id", "n_events", "last_value", "ewma",
        ok.alias("ok_stream_matches_batch"),
    )


_M4_WIDTH = 100  # target "pixel columns" (the rendering width)


@_register(
    "m4_downsample",
    f"""
    WITH ev AS (
        SELECT event_type, event_id, value, epoch_us(ts) AS us FROM events
    ),
    b AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
    bucketed AS (
        SELECT event_type, event_id, value, us,
               CAST((us - lo) * {_M4_WIDTH} // (hi - lo + 1) AS INT)
                   AS bucket
        FROM ev CROSS JOIN b
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, bucket
                                  ORDER BY us, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, bucket
                                  ORDER BY us DESC, event_id DESC) AS rn_z
        FROM bucketed
    )
    SELECT event_type, bucket,
           COUNT(*) AS n_points,
           MIN(value) AS v_min,
           MAX(value) AS v_max,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS v_first,
           MAX(CASE WHEN rn_z = 1 THEN value END) AS v_last
    FROM ranked
    GROUP BY event_type, bucket
    """,
    "§2.11 time-series (M4 visualization-driven downsampling, Jugel "
    "et al. VLDB 2014)",
    "The error-free way to draw a billion-point series on a "
    f"{_M4_WIDTH}-pixel-wide chart: per (series, pixel-bucket) keep "
    "exactly the min, max, first, and last values — the M4 "
    "aggregation, which reproduces the pixel-perfect line rendering "
    "of the full data at 4 points per pixel column. Buckets come "
    "from one broadcast bounds row and integer arithmetic (no float "
    "edge drift); first/last are deterministic (ts, event_id) "
    "tie-broken — the engine picks them with one min/max over "
    "(us, event_id, value) structs per group (a single key exchange, "
    "map-side combined), the oracle with rank-1 window rows, and the "
    "hash proves the picks identical. At 100 TB this is THE "
    "dashboard-serving aggregation: output is bounded by "
    "series × width × 4 regardless of input size, unlike LTTB whose "
    "selected-point chain is inherently sequential.",
)
def q_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id", "value",
        F.unix_micros("ts").alias("us"),
    )
    bounds = F.broadcast(
        ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    )
    bucketed = ev.crossJoin(bounds).select(
        "event_type", "event_id", "value", "us",
        F.expr(
            f"CAST((us - lo) * {_M4_WIDTH} DIV (hi - lo + 1) AS INT)"
        ).alias("bucket"),
    )
    first_s = F.min(F.struct("us", "event_id", "value"))
    last_s = F.max(F.struct("us", "event_id", "value"))
    return (
        bucketed.groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            first_s.getField("value").alias("v_first"),
            last_s.getField("value").alias("v_last"),
        )
    )


@_register(
    "markov_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    c AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_trans,
           ROUND(CAST(n_trans AS DOUBLE)
                 / SUM(n_trans) OVER (PARTITION BY prev_type), 6) + 0.0
               AS prob
    FROM c
    """,
    "§2.11 event analytics (first-order Markov transition matrix)",
    "First-order Markov chain over each user's event stream: the "
    "row-stochastic transition matrix P(next | prev) that session_paths "
    "(full journeys) and funnel_conversion (one fixed sequence) both "
    "marginalize. Plan shape: one user-keyed exchange carries the lag "
    "window (same partitioning session_paths rides), then a 25-cell "
    "aggregate; the per-prev normalization is a window over 5-row "
    "partitions of a 25-row relation. At 100 TB the transition counting "
    "is map-side combinable into at most |types|^2 cells — the matrix "
    "never grows with the corpus, only the one ordered-per-user "
    "exchange does, and that shuffle is shared with every other "
    "sessionization operator in the family.",
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = trans.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n_trans"))
    wp = Window.partitionBy("prev_type")
    prob = F.round(
        F.col("n_trans").cast("double") / F.sum("n_trans").over(wp), 6
    ) + F.lit(0.0)
    return counts.select(
        "prev_type", "next_type", "n_trans", prob.alias("prob")
    )


_DRIFT_BINS = 20


@_register(
    "distribution_drift_report",
    f"""
    WITH pop AS (
        SELECT value AS v, CAST(event_type = 'purchase' AS INT) AS is_a
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    bounds AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM pop),
    binned AS (
        SELECT LEAST({_DRIFT_BINS - 1},
                     CAST(FLOOR((v - lo) / (hi - lo) * {_DRIFT_BINS})
                          AS INT)) AS b,
               is_a
        FROM pop, bounds
    ),
    sizes AS (SELECT SUM(is_a) AS na, SUM(1 - is_a) AS nb FROM binned),
    cells AS (
        SELECT t.b,
               COALESCE(SUM(binned.is_a), 0) AS ca,
               COALESCE(SUM(1 - binned.is_a), 0) AS cb
        FROM range(0, {_DRIFT_BINS}) t(b)
        LEFT JOIN binned ON binned.b = t.b
        GROUP BY t.b
    ),
    probs AS (
        SELECT b,
               (ca + 0.5) / (na + {_DRIFT_BINS} * 0.5) AS pa,
               (cb + 0.5) / (nb + {_DRIFT_BINS} * 0.5) AS pb,
               CAST(ca AS DOUBLE) / na AS fa,
               CAST(cb AS DOUBLE) / nb AS fb
        FROM cells, sizes
    ),
    ks AS (
        SELECT MAX(ABS(ca.cum_fa - ca.cum_fb)) AS ks_stat
        FROM (
            SELECT p1.b,
                   SUM(p2.fa) AS cum_fa,
                   SUM(p2.fb) AS cum_fb
            FROM probs p1 JOIN probs p2 ON p2.b <= p1.b
            GROUP BY p1.b
        ) ca
    ),
    scalars AS (
        SELECT ROUND(SUM((pa - pb) * LN(pa / pb)), 6) AS psi,
               ROUND(0.5 * SUM(pa * LN(pa / ((pa + pb) / 2)))
                     + 0.5 * SUM(pb * LN(pb / ((pa + pb) / 2))), 6) AS jsd
        FROM probs
    )
    SELECT CAST(sizes.na AS BIGINT) AS n_ref,
           CAST(sizes.nb AS BIGINT) AS n_cur,
           scalars.psi AS psi,
           scalars.jsd AS jsd,
           ROUND(ks.ks_stat, 6) AS ks_binned
    FROM sizes, scalars, ks
    """,
    "§2.11 data-quality ops (two-sample distribution drift: PSI / JSD / KS)",
    "Training-data drift detection between two populations of the "
    "events value column (reference = purchase, current = click): "
    "Population Stability Index and Jensen-Shannon divergence over "
    f"{_DRIFT_BINS} equal-width bins (Laplace 0.5-smoothed so empty "
    "bins are defined), plus the binned Kolmogorov-Smirnov statistic "
    "max|ECDF_a - ECDF_b| on the raw (unsmoothed) bin frequencies. "
    "Plan shape: one pass computes global min/max (broadcast back via "
    "crossJoin of a 1-row aggregate), one map-side-combinable groupBy "
    f"folds N rows into {_DRIFT_BINS} cells, and every downstream "
    "statistic — including the ECDF cumsum, done as a bounded "
    "triangular self-join on the bin table rather than an "
    "unpartitioned ORDER BY window — runs on a "
    f"{_DRIFT_BINS}-row relation. At 100 TB the only full-data costs "
    "are two scans (bounds, then binning); nothing but (bin, count) "
    "pairs ever shuffles, so the monitor is as cheap as a histogram.",
)
def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    nb = _DRIFT_BINS
    pop = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        F.col("value").alias("v"),
        (F.col("event_type") == "purchase").cast("int").alias("is_a"),
    )
    bounds = pop.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = pop.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(nb - 1),
            F.floor((F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")) * nb)
            .cast("int"),
        ).alias("b"),
        "is_a",
    )
    # aggregate FIRST (map-side-combinable groupBy folds N rows into
    # <= nb cells), then left-join the nb-row spine against the tiny
    # cell relation (broadcast). Joining the spine against the raw
    # corpus-sized `binned` would shuffle every event row across at
    # most nb join keys — a skewed SortMergeJoin doing the aggregation
    # work AFTER the shuffle instead of before it.
    cell_agg = binned.groupBy("b").agg(
        F.sum("is_a").alias("ca"),
        F.sum(F.lit(1) - F.col("is_a")).alias("cb"),
    )
    cells = (
        spark.range(nb)
        .select(F.col("id").cast("int").alias("b"))
        .join(F.broadcast(cell_agg), "b", "left")
        .select(
            "b",
            F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
        )
    )
    sizes = binned.agg(
        F.sum("is_a").alias("na"), F.sum(F.lit(1) - F.col("is_a")).alias("nb")
    )
    probs = cells.crossJoin(F.broadcast(sizes)).select(
        "b",
        ((F.col("ca") + 0.5) / (F.col("na") + nb * 0.5)).alias("pa"),
        ((F.col("cb") + 0.5) / (F.col("nb") + nb * 0.5)).alias("pb"),
        (F.col("ca").cast("double") / F.col("na")).alias("fa"),
        (F.col("cb").cast("double") / F.col("nb")).alias("fb"),
        F.col("na"),
        F.col("nb"),
    )
    # bounded triangular self-join ECDF (20x20) — no unpartitioned window
    p2 = probs.select(
        F.col("b").alias("b2"), F.col("fa").alias("fa2"), F.col("fb").alias("fb2")
    )
    ks = (
        probs.join(F.broadcast(p2), F.col("b2") <= F.col("b"))
        .groupBy("b")
        .agg(F.sum("fa2").alias("cum_fa"), F.sum("fb2").alias("cum_fb"))
        .agg(
            F.round(F.max(F.abs(F.col("cum_fa") - F.col("cum_fb"))), 6).alias(
                "ks_binned"
            )
        )
    )
    m = (F.col("pa") + F.col("pb")) / 2
    scalars = probs.agg(
        F.max("na").alias("n_ref"),
        F.max("nb").alias("n_cur"),
        F.round(
            F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))),
            6,
        ).alias("psi"),
        F.round(
            0.5 * F.sum(F.col("pa") * F.log(F.col("pa") / m))
            + 0.5 * F.sum(F.col("pb") * F.log(F.col("pb") / m)),
            6,
        ).alias("jsd"),
    )
    return scalars.crossJoin(F.broadcast(ks)).select(
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        "psi",
        "jsd",
        "ks_binned",
    )


@_register(
    "streaming_drift_monitor",
    """
    WITH bounds AS (
        SELECT MIN(value) AS lo, MAX(value) AS hi
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    ref AS (
        SELECT LEAST(19, CAST(FLOOR((value - lo) / (hi - lo) * 20) AS INT))
                   AS b,
               COUNT(*) AS ca
        FROM events, bounds WHERE event_type = 'purchase' GROUP BY 1
    ),
    na AS (SELECT SUM(ca) AS na FROM ref),
    cur AS (
        SELECT epoch_us(date_trunc('day', ts)) AS day_start_us,
               LEAST(19, CAST(FLOOR((value - lo) / (hi - lo) * 20) AS INT))
                   AS b,
               COUNT(*) AS cb
        FROM events, bounds WHERE event_type = 'click' GROUP BY 1, 2
    ),
    nd AS (SELECT day_start_us, SUM(cb) AS n_cur FROM cur GROUP BY 1),
    grid AS (SELECT day_start_us, n_cur, t.b FROM nd, range(0, 20) t(b)),
    cells AS (
        SELECT g.day_start_us, g.n_cur,
               (COALESCE(ref.ca, 0) + 0.5) / (na.na + 10.0) AS pa,
               (COALESCE(cur.cb, 0) + 0.5) / (g.n_cur + 10.0) AS pb
        FROM grid g
        LEFT JOIN ref ON ref.b = g.b
        LEFT JOIN cur ON cur.day_start_us = g.day_start_us AND cur.b = g.b
        CROSS JOIN na
    )
    SELECT day_start_us, CAST(MAX(n_cur) AS BIGINT) AS n_cur,
           ROUND(SUM((pb - pa) * LN(pb / pa)), 6) AS psi
    FROM cells GROUP BY 1
    """,
    "§2.9/§2.11 streaming twin of the drift monitor (per-window PSI)",
    "The production drift shape: a STATIC reference distribution "
    "(purchase values, 20 Laplace-smoothed bins) against a STREAM of "
    "current data (clicks), one PSI per event-time day. The stream "
    "maintains only (day-window, bin) counts — state is bounded at "
    "windows x 20 rows regardless of input volume, the same "
    "bounded-state discipline as the streaming CMS — and the PSI "
    "arithmetic runs batch-side on the drained cell relation. Bin "
    "bounds are a 1-row min/max pull baked into the stream's bin "
    "expression as plan literals. Oracle-exact: epoch-aligned 1-day "
    "tumbling windows are date_trunc('day') buckets, so the batch SQL "
    "replays the drained result bit-for-bit.",
)
def q_streaming_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import streaming_daily_drift

    return streaming_daily_drift(spark, sf_dir)


@_register(
    "seasonal_anomaly_report",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    b AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    hours AS (
        SELECT t.h FROM b,
               UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(h)
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    cells AS (
        SELECT s.h, s.event_type,
               CAST(COALESCE(hourly.n, 0) AS BIGINT) AS n,
               CAST(EXTRACT(hour FROM s.h) AS INT) AS hod
        FROM (SELECT h, event_type FROM hours CROSS JOIN types) s
        LEFT JOIN hourly ON hourly.h = s.h
                        AND hourly.event_type = s.event_type
    ),
    stats AS (
        SELECT event_type, hod, COUNT(*) AS k,
               SUM(n) AS s, SUM(n * n) AS ss
        FROM cells GROUP BY 1, 2
    ),
    scored AS (
        SELECT c.event_type, c.n, st.k, st.s, st.ss,
               CASE WHEN st.k > 1 AND st.k * st.ss > st.s * st.s THEN
                   (CAST(c.n AS DOUBLE) - CAST(st.s AS DOUBLE) / st.k)
                   / SQRT(CAST(st.k * st.ss - st.s * st.s AS DOUBLE)
                          / (CAST(st.k AS DOUBLE) * (st.k - 1)))
               ELSE 0.0 END AS z
        FROM cells c
        JOIN stats st ON st.event_type = c.event_type AND st.hod = c.hod
    )
    SELECT event_type,
           COUNT(*) AS n_cells,
           CAST(SUM(CASE WHEN ABS(z) > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_anomalies,
           ROUND(MAX(ABS(z)), 4) AS max_abs_z
    FROM scored GROUP BY 1
    """,
    "§2.11 time series (seasonal-baseline anomaly detection)",
    "Hour-of-day seasonal anomaly scan: every (type, hour) cell of the "
    "DENSE hourly series (calendar spine — a missing hour is a zero "
    "observation, not a missing row) is z-scored against that type's "
    "hour-of-day baseline (mean/std over the ~30 daily samples of the "
    "same wall-clock hour), and cells with |z| > 3 are counted per "
    "type. Determinism: counts are exact integers, the sufficient "
    "statistics (k, sum, sum-of-squares) are exact integer sums, and "
    "z evaluates in one identical expression of +-*/ and sqrt — all "
    "IEEE-correctly-rounded ops, so the score is bit-equal across "
    "engines and partitionings (no transcendentals; the std=0 and "
    "k=1 degenerate baselines clamp z to 0 on both). Plan shape: the "
    "hourly aggregate is the only corpus-sized pass; baseline stats "
    "group 720 cells into 120, and scoring is a broadcast join back "
    "onto the cells. At 100 TB the window never sees fact rows.",
)
def q_seasonal_anomaly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = ev.select("event_type").distinct()
    cells = (
        hours.crossJoin(F.broadcast(types))
        .join(hourly, ["h", "event_type"], "left")
        .select(
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.hour("h").cast("int").alias("hod"),
        )
    )
    stats = cells.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    scored = cells.join(F.broadcast(stats), ["event_type", "hod"]).select(
        "event_type",
        F.when(
            (F.col("k") > 1)
            & (F.col("k") * F.col("ss") > F.col("s") * F.col("s")),
            (
                F.col("n").cast("double")
                - F.col("s").cast("double") / F.col("k")
            )
            / F.sqrt(
                (F.col("k") * F.col("ss") - F.col("s") * F.col("s")).cast(
                    "double"
                )
                / (F.col("k").cast("double") * (F.col("k") - 1))
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("z"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum((F.abs("z") > 3.0).cast("long")).alias("n_anomalies"),
        F.round(F.max(F.abs("z")), 4).alias("max_abs_z"),
    )


@_register(
    "conversion_lag_percentiles",
    """
    WITH v AS (
        SELECT user_id, MIN(epoch_us(ts)) AS v_us
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.v_us
        GROUP BY 1
    ),
    lags AS (
        SELECT p.p_us - v.v_us AS lag_us
        FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT COUNT(*) AS n_converted,
           ROUND(quantile_cont(lag_us, 0.5) / 1000000.0, 2) AS p50_sec,
           ROUND(quantile_cont(lag_us, 0.9) / 1000000.0, 2) AS p90_sec,
           ROUND(CAST(SUM(lag_us) AS DOUBLE) / COUNT(*) / 1000000.0, 2)
               AS mean_sec,
           ROUND(MAX(lag_us) / 1000000.0, 2) AS max_sec
    FROM lags
    """,
    "§2.11 event analytics (conversion-lag distribution)",
    "Time-to-convert: for every user, the lag from their FIRST view to "
    "their first purchase strictly after it, summarized as exact "
    "interpolated p50/p90 (Spark percentile ≡ DuckDB quantile_cont on "
    "integer microsecond lags — the acctbal_percentiles parity), an "
    "exact-integer mean, and the max — the duration complement to "
    "funnel_conversion's step counts. Plan shape: two conditional "
    "per-user min-aggregates on the SAME user_id exchange (first view; "
    "first qualifying purchase via one equi-join + filter), then a "
    "single global aggregate over the per-user lag relation. Lags stay "
    "integer micros end-to-end; only the four final summaries divide "
    "to seconds. At 100 TB the exact global percentile over one value "
    "per converted user is driver-safe by construction (users, not "
    "events); approx_quantile_sketch remains the registered "
    "unbounded-cardinality path.",
)
def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"), F.min("v_us").alias("v_us2"))
    )
    lags = p.select((F.col("p_us") - F.col("v_us2")).alias("lag_us"))
    n = F.count(F.lit(1))
    return lags.agg(
        n.alias("n_converted"),
        F.round(F.expr("percentile(lag_us, 0.5)") / 1000000.0, 2).alias(
            "p50_sec"
        ),
        F.round(F.expr("percentile(lag_us, 0.9)") / 1000000.0, 2).alias(
            "p90_sec"
        ),
        F.round(
            F.sum("lag_us").cast("double") / n / 1000000.0, 2
        ).alias("mean_sec"),
        F.round(F.max("lag_us") / 1000000.0, 2).alias("max_sec"),
    )


_BOOT_B = 100
# Poisson(1) inverse-CDF thresholds on a 6-digit uniform: P(X<=k) for
# k=0..5; draws past the last threshold clamp to 6 (P ~ 8e-5). The SAME
# literal ladder evaluates in both engines, so the weight field is
# deterministic given (replicate, event_id).
_POIS_CDF = (0.367879, 0.735759, 0.919699, 0.981012, 0.996340, 0.999406)


def _poisson_weight(u: "F.Column") -> "F.Column":
    w = F.lit(6)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(w)
    return w


def _sql_poisson_weight(u_expr: str) -> str:
    branches = " ".join(
        f"WHEN {u_expr} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 6 END"


@_register(
    "bootstrap_mean_ci",
    f"""
    WITH base AS (
        SELECT event_type,
               ('0x' || SUBSTRING(md5('bs42_' || CAST(event_id AS VARCHAR)),
                                  1, 15))::BIGINT % 2147483647 AS h,
               CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS HUGEINT)
                   AS v6
        FROM events
    ),
    pt AS (
        SELECT event_type, COUNT(*) AS n_rows,
               ROUND(CAST(SUM(v6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
                   AS mean_value
        FROM base GROUP BY 1
    ),
    rep AS (
        SELECT base.event_type, t.b,
               {_sql_poisson_weight(
                   "(((base.h * (t.b + 12345)) % 2147483647) % 1000000"
                   " + 0.5) / 1000000.0")} AS w,
               base.v6
        FROM base, range(0, {_BOOT_B}) t(b)
    ),
    means AS (
        SELECT event_type, b,
               CAST(SUM(w * v6) AS DOUBLE) / SUM(w) / 1000000.0 AS m
        FROM rep GROUP BY 1, 2 HAVING SUM(w) > 0
    )
    SELECT pt.event_type, pt.n_rows, pt.mean_value,
           ROUND(quantile_cont(means.m, 0.025), 6) AS boot_lo,
           ROUND(quantile_cont(means.m, 0.975), 6) AS boot_hi
    FROM means JOIN pt USING (event_type)
    GROUP BY pt.event_type, pt.n_rows, pt.mean_value
    """,
    "§2.11 statistics (Poisson-bootstrap confidence intervals)",
    f"Distributed bootstrap: a 95% CI on each event type's mean value "
    f"from {_BOOT_B} Poisson(1) resamples — the scale-standard "
    "replacement for multinomial resampling (each row draws an "
    "independent Poisson weight per replicate, so resampling is a "
    "MAP-SIDE expression over one pass of the data instead of B "
    "shuffled samples; Chamandy et al., 'Estimating Uncertainty for "
    "Massive Data Streams', Google 2012). Determinism: each row is "
    "md5-hashed ONCE (content-stable, seeded, no rand()); the B "
    "replicate uniforms derive from that hash by exact multiplicative "
    "integer mixing mod 2^31-1 — identical integer arithmetic on both "
    "engines and ~100x cheaper than a per-(row, replicate) md5, which "
    "is what the per-replicate weight ladder actually costs at scale; "
    "values quantize to exact integer micro-units so every replicate "
    "sum is order-independent; the CI is the exact interpolated "
    "2.5/97.5 percentile over the B replicate means. Plan shape: the "
    f"{_BOOT_B}x fan-out is an in-row explode whose groupBy folds "
    "map-side into types x B cells — shuffle is B x |types| longs, "
    "never the fanned rows. At 100 TB the same plan holds: one scan, "
    "bounded cells.",
)
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ×B in-row fan-out and per-(row, replicate) weight arithmetic
    # dominate; every aggregate is exact integer/decimal math, so
    # spreading the one-file scan is value-identical (no-op at scale)
    ev = _spread(_t(spark, sf_dir, "events"), "event_id")
    base = ev.select(
        "event_type",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("bs42_"), F.col("event_id").cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2147483647
        ).alias("h"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("decimal(38,0)")
        .alias("v6"),
    )
    pt = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum("v6").cast("double") / F.count(F.lit(1)) / 1000000.0, 6
        ).alias("mean_value"),
    )
    u = (
        ((F.col("h") * (F.col("b") + 12345)) % 2147483647) % 1000000 + 0.5
    ) / 1000000.0
    rep = base.select(
        "event_type",
        "h",
        "v6",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).select(
        "event_type",
        "b",
        _poisson_weight(u).cast("decimal(38,0)").alias("w"),
        "v6",
    )
    means = (
        rep.groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("v6")).alias("swv"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "event_type",
            (
                F.col("swv").cast("double")
                / F.col("sw").cast("double")
                / 1000000.0
            ).alias("m"),
        )
    )
    ci = means.groupBy("event_type").agg(
        F.round(F.expr("percentile(m, 0.025)"), 6).alias("boot_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 6).alias("boot_hi"),
    )
    return pt.join(ci, "event_type").select(
        "event_type", "n_rows", "mean_value", "boot_lo", "boot_hi"
    )


@_register(
    "ab_test_welch",
    """
    WITH base AS (
        SELECT CAST(event_type = 'purchase' AS INT) AS is_a,
               CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS HUGEINT)
                   AS m
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    g AS (
        SELECT is_a, COUNT(*) AS n, SUM(m) AS s, SUM(m * m) AS ss
        FROM base GROUP BY 1
    ),
    w AS (
        SELECT a.n AS na, b.n AS nb,
               CAST(a.s AS DOUBLE) / a.n AS ma,
               CAST(b.s AS DOUBLE) / b.n AS mb,
               CAST(a.n * a.ss - a.s * a.s AS DOUBLE)
                   / (CAST(a.n AS DOUBLE) * (a.n - 1)) AS va,
               CAST(b.n * b.ss - b.s * b.s AS DOUBLE)
                   / (CAST(b.n AS DOUBLE) * (b.n - 1)) AS vb
        FROM (SELECT * FROM g WHERE is_a = 1) a,
             (SELECT * FROM g WHERE is_a = 0) b
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND((ma - mb) / 1000000.0, 6) AS mean_diff,
           ROUND((ma - mb) / SQRT(va / na + vb / nb), 6) + 0 AS t_stat,
           ROUND((va / na + vb / nb) * (va / na + vb / nb)
                 / ((va / na) * (va / na) / (na - 1)
                    + (vb / nb) * (vb / nb) / (nb - 1)), 4) AS welch_dof,
           ROUND((ma - mb) / SQRT(((na - 1) * va + (nb - 1) * vb)
                                  / (na + nb - 2)), 6) + 0 AS cohens_d
    FROM w
    """,
    "§2.11 statistics (Welch two-sample t-test + effect size)",
    "A/B comparison of the purchase vs click value distributions: "
    "Welch's unequal-variance t statistic, the Welch-Satterthwaite "
    "degrees of freedom, and Cohen's d — the continuous-outcome "
    "complement to chi_square_independence's categorical test. "
    "Determinism: values quantize to exact integer micro-units, the "
    "per-arm sufficient statistics (n, sum, sum-of-squares) are exact "
    "DECIMAL(38,0)/HUGEINT sums, and every output evaluates in one "
    "identical expression of +-*/ and sqrt (IEEE-exact, no "
    "transcendentals) — the t statistic is scale-invariant in the "
    "quantized units, the mean difference divides the quantum out "
    "once. Plan: ONE map-side-combinable aggregate into two cells; "
    "everything downstream is driver-scale. At 100 TB this is a "
    "single scan.",
)
def q_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        (F.col("event_type") == "purchase").cast("int").alias("is_a"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("decimal(38,0)")
        .alias("m"),
    )
    g = base.groupBy("is_a").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m").alias("s"),
        F.sum(F.col("m") * F.col("m")).alias("ss"),
    )
    a = g.filter(F.col("is_a") == 1).select(
        F.col("n").alias("na_"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    b = g.filter(F.col("is_a") == 0).select(
        F.col("n").alias("nb_"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )
    w = a.crossJoin(F.broadcast(b))
    ma = F.col("sa").cast("double") / F.col("na_")
    mb = F.col("sb").cast("double") / F.col("nb_")
    va = (F.col("na_") * F.col("ssa") - F.col("sa") * F.col("sa")).cast(
        "double"
    ) / (F.col("na_").cast("double") * (F.col("na_") - 1))
    vb = (F.col("nb_") * F.col("ssb") - F.col("sb") * F.col("sb")).cast(
        "double"
    ) / (F.col("nb_").cast("double") * (F.col("nb_") - 1))
    sea = va / F.col("na_")
    seb = vb / F.col("nb_")
    pooled = (
        (F.col("na_") - 1) * va + (F.col("nb_") - 1) * vb
    ) / (F.col("na_") + F.col("nb_") - 2)
    return w.select(
        F.col("na_").cast("long").alias("n_a"),
        F.col("nb_").cast("long").alias("n_b"),
        F.round((ma - mb) / 1000000.0, 6).alias("mean_diff"),
        (F.round((ma - mb) / F.sqrt(sea + seb), 6) + F.lit(0.0)).alias(
            "t_stat"
        ),
        F.round(
            (sea + seb) * (sea + seb)
            / (
                sea * sea / (F.col("na_") - 1)
                + seb * seb / (F.col("nb_") - 1)
            ),
            4,
        ).alias("welch_dof"),
        (F.round((ma - mb) / F.sqrt(pooled), 6) + F.lit(0.0)).alias(
            "cohens_d"
        ),
    )


@_register(
    "behavioral_topk_similarity",
    """
    WITH prof AS (
        SELECT user_id,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c2,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c3,
               SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c4,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c5,
               COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    sig AS (
        SELECT *,
               CAST(FLOOR(c1 * 5.0 / n) AS INT) || '_' ||
               CAST(FLOOR(c2 * 5.0 / n) AS INT) || '_' ||
               CAST(FLOOR(c3 * 5.0 / n) AS INT) || '_' ||
               CAST(FLOOR(c4 * 5.0 / n) AS INT) || '_' ||
               CAST(FLOOR(c5 * 5.0 / n) AS INT) AS block
        FROM prof
    ),
    pairs AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               CAST(a.c1 * b.c1 + a.c2 * b.c2 + a.c3 * b.c3
                    + a.c4 * b.c4 + a.c5 * b.c5 AS DOUBLE)
                   / SQRT(CAST(a.c1 * a.c1 + a.c2 * a.c2 + a.c3 * a.c3
                               + a.c4 * a.c4 + a.c5 * a.c5 AS DOUBLE)
                          * CAST(b.c1 * b.c1 + b.c2 * b.c2 + b.c3 * b.c3
                                 + b.c4 * b.c4 + b.c5 * b.c5 AS DOUBLE))
                   AS cos
        FROM sig a JOIN sig b
          ON a.block = b.block AND a.user_id < b.user_id
    )
    SELECT user_a, user_b, ROUND(cos, 6) AS cosine
    FROM pairs
    ORDER BY cos DESC, user_a, user_b
    LIMIT 20
    """,
    "§2.11 similarity search (blocked top-k behavioral similarity)",
    "Top-20 most behaviorally similar user pairs: each user collapses "
    "to a 5-dim event-type count vector, candidates are generated ONLY "
    "within blocks sharing the integer-quantized share signature "
    "(floor(count*5/total) per type — the 5-dim analog of an SRP "
    "bucket: near-identical mixes collide, dissimilar mixes never "
    "pair), and exact cosine ranks candidates (integer dot products, "
    "one final divide+sqrt — bit-equal across engines). The blocked "
    "top-k shape follows the retrieved distributed top-k similarity "
    "search literature (REPOSE ICDE'21 / incremental top-k EDBT'20): "
    "prune by a cheap signature equi-join, score exactly only within "
    "blocks, TakeOrdered the bounded result. Plan: one user-keyed "
    "aggregate, one block equi-join (zero cartesian — plan-tested), "
    "top-20 as TakeOrdered. At 100 TB block population is controlled "
    "by the signature resolution (the SRP plane-count knob's analog).",
)
def q_behavioral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    aggs = [
        F.sum((F.col("event_type") == t).cast("long")).alias(f"c{i+1}")
        for i, t in enumerate(types)
    ]
    prof = ev.groupBy("user_id").agg(*aggs, F.count(F.lit(1)).alias("n"))
    block = F.concat_ws(
        "_",
        *[
            F.floor(F.col(f"c{i+1}") * 5.0 / F.col("n"))
            .cast("int")
            .cast("string")
            for i in range(5)
        ],
    )
    sig = prof.withColumn("block", block)
    a = sig.select(
        F.col("user_id").alias("user_a"),
        F.col("block").alias("block_a"),
        *[F.col(f"c{i+1}").alias(f"a{i+1}") for i in range(5)],
    )
    b = sig.select(
        F.col("user_id").alias("user_b"),
        F.col("block").alias("block_b"),
        *[F.col(f"c{i+1}").alias(f"b{i+1}") for i in range(5)],
    )
    dot = sum(F.col(f"a{i+1}") * F.col(f"b{i+1}") for i in range(5))
    na = sum(F.col(f"a{i+1}") * F.col(f"a{i+1}") for i in range(5))
    nb = sum(F.col(f"b{i+1}") * F.col(f"b{i+1}") for i in range(5))
    pairs = a.join(
        b,
        (F.col("block_a") == F.col("block_b"))
        & (F.col("user_a") < F.col("user_b")),
    ).select(
        "user_a",
        "user_b",
        (dot.cast("double") / F.sqrt(na.cast("double") * nb.cast("double"))).alias(
            "cos"
        ),
    )
    return (
        pairs.orderBy(F.desc("cos"), "user_a", "user_b")
        .limit(20)
        .select("user_a", "user_b", F.round("cos", 6).alias("cosine"))
    )


# =========================================================================
# Round 11: sequential-statistic time series (CUSUM, time-weighted mean)
# =========================================================================


@_register(
    "cusum_changepoint",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,2))) AS x
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu,
               SQRT((CAST(SUM(x * x) AS DOUBLE)
                     - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                       / COUNT(*))
                    / (COUNT(*) - 1)) AS sigma
        FROM daily GROUP BY 1
    ),
    dev AS (
        SELECT d.event_type, d.day,
               CAST(d.x AS DOUBLE) - s.mu - 0.5 * s.sigma AS dd,
               s.sigma
        FROM daily d JOIN stats s ON s.event_type = d.event_type
    ),
    pre1 AS (
        SELECT event_type, day, sigma,
               SUM(dd) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS p
        FROM dev
    ),
    pre AS (
        SELECT event_type, day, sigma, p,
               MIN(p) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS mp
        FROM pre1
    )
    SELECT event_type,
           epoch_us(CAST(day AS TIMESTAMP)) AS day_start_us,
           FLOOR((p - LEAST(mp, 0)) * 10000 + 0.5) / 10000 AS cusum,
           (p - LEAST(mp, 0)) > 4.0 * sigma AS drifted
    FROM pre
    """,
    "§2.11 event analytics (CUSUM changepoint detection)",
    "One-sided CUSUM drift detection over each event type's daily "
    "value series: S_i = max(0, S_{i-1} + (x_i - mu - k)) with "
    "slack k = sigma/2 and alarm threshold 4*sigma. The recurrence "
    "looks inherently sequential, but the reflection identity "
    "S_i = P_i - min(0, min_{j<=i} P_j) (P = prefix sum of the "
    "deviations) turns it into TWO stacked window functions — a "
    "running sum and a running min of that sum — so the whole "
    "detector is one exchange on the series key and a per-type sort "
    "of BOUNDED daily cells, never a driver loop or a UDF. mu/sigma "
    "come from exact DECIMAL sufficient statistics (sum, sum of "
    "squares over daily cells), so both engines derive bit-identical "
    "doubles and the alarm comparison is hash-stable; the CUSUM value "
    "itself is quantized mode-free at 1e-4. At 100 TB the only "
    "corpus-sized stage is the daily pre-aggregation (map-side "
    "combinable); everything after runs on types x days cells.",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(_dec("value")).alias("x"))
    n = F.count(F.lit(1))
    stats = daily.groupBy("event_type").agg(
        (F.sum("x").cast("double") / n).alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("x") * F.col("x")).cast("double")
                - F.sum("x").cast("double")
                * F.sum("x").cast("double")
                / n
            )
            / (n - F.lit(1))
        ).alias("sigma"),
    )
    dev = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "sigma",
        (
            F.col("x").cast("double")
            - F.col("mu")
            - F.lit(0.5) * F.col("sigma")
        ).alias("dd"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = dev.withColumn("p", F.sum("dd").over(w)).withColumn(
        "mp", F.min("p").over(w)
    )
    cusum = F.col("p") - F.least(F.col("mp"), F.lit(0.0))
    return pre.select(
        "event_type",
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_start_us"),
        (F.floor(cusum * 10000 + F.lit(0.5)) / 10000).alias("cusum"),
        (cusum > F.lit(4.0) * F.col("sigma")).alias("drifted"),
    )


@_register(
    "time_weighted_average",
    """
    WITH seq AS (
        SELECT user_id, value, ts,
               LEAD(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    seg AS (
        SELECT user_id,
               CAST(value AS DECIMAL(18,2))
                   * (epoch_us(nxt) - epoch_us(ts)) AS wv,
               epoch_us(nxt) - epoch_us(ts) AS dt
        FROM seq WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) AS n_segments,
           CAST(SUM(dt) AS BIGINT) AS observed_us,
           FLOOR(CAST(SUM(wv) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS twap_value
    FROM seg GROUP BY 1
    """,
    "§2.11 event analytics (time-weighted average / TWAP)",
    "Per-user time-weighted mean value: each event's value holds until "
    "the user's next event (LEAD over the per-user timeline, total "
    "order (ts, event_id) so duplicate timestamps cannot flip "
    "segments), weighted by the segment's exact micros duration; the "
    "final open-ended segment carries no duration and is excluded — "
    "the sampling-frequency-bias fix a plain AVG(value) gets wrong "
    "whenever event rates correlate with value (the standard TWAP/ "
    "VWAP discipline). Weighted sums stay exact: DECIMAL value x "
    "BIGINT micros sums losslessly, with ONE double division per "
    "user, quantized mode-free. One exchange partitions by user; "
    "segment construction and both sums ride it map-side.",
)
def q_time_weighted_average(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "value", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("nxt", F.lead("ts").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    dt = F.unix_micros("nxt") - F.unix_micros("ts")
    seg = seq.select(
        "user_id",
        (_dec("value") * dt).alias("wv"),
        dt.alias("dt"),
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("dt").cast("long").alias("observed_us"),
        (
            F.floor(
                F.sum("wv").cast("double")
                / F.sum("dt").cast("double")
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("twap_value"),
    )


def _streaming_cusum_parity_sql() -> str:
    return f"""
    SELECT event_type, day_start_us, cusum, drifted,
           TRUE AS ok_stream_matches_batch
    FROM ({REGISTRY['cusum_changepoint'].sql})
    """


@_register(
    "streaming_cusum_parity",
    _streaming_cusum_parity_sql(),
    "§2.9/§2.11 (custom stateful streaming: per-key CUSUM monitor)",
    "The streaming twin of cusum_changepoint, checked the "
    "streaming_ewma_parity way: hashed values are the batch reflection-"
    "identity form's (oracle-exact), and the stream evidence is the "
    "ok_stream_matches_batch flag — an applyInPandasWithState query "
    "folds the textbook recursion S_i = max(0, S_{i-1} + (x_i - mu - "
    "k)) with ONE (open-day accumulator, prefix sum, prefix min) state "
    "row per event type, O(1) per event, against the SAME per-type "
    "mu/sigma baseline the batch derives from exact DECIMAL daily "
    "sufficient statistics (collected once, baked into the fold "
    "closure — the static-reference discipline of "
    "streaming_drift_monitor: a production monitor pins its "
    "baseline). Each day's CUSUM emits when the day closes; every "
    "(type, day) must agree with the batch identity to 5e-4 (same "
    "real quantity, different float fold order + the batch's 1e-4 "
    "output grid). A false flag hash-mismatches the oracle's TRUE — "
    "stream divergence fails the correctness gate. State is O(types), "
    "independent of volume: the changepoint monitor a 100 TB/day "
    "pipeline actually deploys.",
)
def q_streaming_cusum_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.stateful import streaming_cusum

    batch = q_cusum_changepoint(spark, sf_dir)
    # the stream's baseline must be the batch's EXACT mu/sigma —
    # recompute them with the same expressions and collect (5 types)
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(_dec("value")).alias("x"))
    n = F.count(F.lit(1))
    stats = daily.groupBy("event_type").agg(
        (F.sum("x").cast("double") / n).alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("x") * F.col("x")).cast("double")
                - F.sum("x").cast("double") * F.sum("x").cast("double") / n
            )
            / (n - F.lit(1))
        ).alias("sigma"),
    )
    refstats = {
        r["event_type"]: (r["mu"], r["sigma"]) for r in stats.collect()
    }
    stream = streaming_cusum(spark, sf_dir, refstats)
    ok = F.abs(F.col("s_cusum") - F.col("cusum")) < F.lit(5e-4)
    return batch.join(stream, ["event_type", "day_start_us"]).select(
        "event_type", "day_start_us", "cusum", "drifted",
        ok.alias("ok_stream_matches_batch"),
    )


def _streaming_twap_parity_sql() -> str:
    return f"""
    SELECT user_id, n_segments, observed_us, twap_value,
           TRUE AS ok_stream_matches_batch
    FROM ({REGISTRY['time_weighted_average'].sql})
    """


@_register(
    "streaming_twap_parity",
    _streaming_twap_parity_sql(),
    "§2.9/§2.11 (custom stateful streaming: per-key TWAP state)",
    "The streaming twin of time_weighted_average: one (last event, "
    "weighted-sum accumulator) state row per user folds the online "
    "TWAP — value x elapsed-micros accumulated as each next event "
    "arrives, O(1) per event, O(users) state. Integer micros "
    "accumulate EXACTLY, so the parity flag demands "
    "n_segments and observed_us EQUAL the batch LEAD-segment values "
    "(any missed/duplicated segment flips the flag, which hash-"
    "mismatches the oracle's TRUE), and the float weighted mean to "
    "agree within 1e-4 (same real quantity, different fold order vs "
    "the batch's exact DECIMAL sums + 1e-6 grid).",
)
def q_streaming_twap_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.stateful import streaming_twap

    batch = q_time_weighted_average(spark, sf_dir)
    stream = streaming_twap(spark, sf_dir)
    ok = (
        (F.col("s_n_segments") == F.col("n_segments"))
        & (F.col("s_observed_us") == F.col("observed_us"))
        & (F.abs(F.col("s_twap") - F.col("twap_value")) < F.lit(1e-4))
    )
    return batch.join(
        stream, batch.user_id == stream.user_id
    ).select(
        batch.user_id.alias("user_id"),
        "n_segments", "observed_us", "twap_value",
        ok.alias("ok_stream_matches_batch"),
    )
