"""Structured Streaming variants of the event analytics (SURVEY §2.9/§2.11).

The reference is pure batch; this module runs the same windowed
aggregations as a stream: ``readStream`` over the events parquet,
event-time tumbling windows with a watermark for late data, memory sink
for synchronous test drives (``processAllAvailable``).

On a real cluster the source would be Kafka/files-on-arrival and the sink
a Delta/parquet append; watermark + window state lives in the state
store, partitioned by window × event_type — bounded by (windows ×
types), not input volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_engine_confs
from ..sources.testdata import event_stream, load_table
from .runtime import drain


def streaming_hourly_event_stats(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Hourly per-type event counts/sums computed via a streaming query.

    Drives the stream to completion synchronously (memory sink) and
    returns the batch-equivalent result: one row per (hour, event_type)
    with count and 2-decimal value sum. Timestamps are emitted as epoch
    micros so results are oracle-comparable.
    """
    ensure_engine_confs(spark)
    stream = event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_d"),
        )
    )
    out = drain(agg, "complete", name_prefix="hourly_events")
    return out.select(
        F.unix_micros(F.col("w.start")).alias("hour_start_us"),
        "event_type",
        "n_events",
        F.round(F.col("sum_value_d").cast("double"), 2).alias("sum_value"),
    )


def streaming_interval_join(
    spark: SparkSession,
    sf_dir: str,
    interval: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-STREAM interval join: every click joined to the same
    user's purchases within ``interval`` after it — the canonical
    Structured Streaming two-stream stateful join. Both sides carry
    watermarks; the time-bound join condition lets the state store
    evict rows once the other side's watermark passes ``ts +
    interval`` (without the bound, two-stream state grows without
    limit). The append-mode pair stream is drained and then
    batch-aggregated per user so the result is a compact deterministic
    relation [user_id, n_pairs, sum_purchase_value] — identical to the
    batch interval self-join the oracle runs.
    """
    ensure_engine_confs(spark)
    clicks = (
        event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    pairs = clicks.join(
        purchases,
        F.expr(
            f"user_id = p_user AND p_ts >= c_ts "
            f"AND p_ts <= c_ts + interval {interval}"
        ),
        "inner",
    )
    # cap=2: the stream-stream join keeps FOUR state stores per
    # partition, and each pays per-micro-batch commit fixed costs; at
    # drain scale (~25k rows/side) two partitions are already wider
    # than the data and shave ~10% off the wall vs the default cap
    # (r12 A/B: warm 2.2s at 4 -> 2.0s at 2, identical results). On a
    # real cluster this is the same deployment knob as the default.
    return (
        drain(pairs, "append", name_prefix="ij", cap=2)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.col("p_value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_purchase_value"),
        )
    )


def streaming_events_by_segment(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (broadcast per micro-batch), aggregated per
    market segment.

    The static side is re-read per micro-batch by Structured Streaming;
    Catalyst broadcasts it (dim-sized), so the join adds no shuffle to
    the stream. Returns [segment, n_events, sum_value] — oracle-checked
    against the equivalent batch join.
    """
    ensure_engine_confs(spark)
    stream = event_stream(spark, sf_dir)
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    joined = stream.withWatermark("ts", watermark).join(
        F.broadcast(customers), "user_id"
    )
    agg = joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_d"),
    )
    return drain(agg, "complete", name_prefix="seg_events").select(
        "segment",
        "n_events",
        F.round(F.col("sum_value_d").cast("double"), 2).alias("sum_value"),
    )


def streaming_cms_counters(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Count-min sketch maintained BY the stream: a streaming groupBy
    over CMS bucket coordinates whose state is bounded at depth*width
    (= 10,240) rows — independent of BOTH input volume and key
    cardinality, unlike a per-key streaming count whose state grows
    with distinct keys. Complete-mode drain returns the final counter
    relation [hi, bucket, c]; counter sums commute, so the streamed
    sketch is bit-identical to the batch-built one over the same
    events (the registry query asserts exactly that).
    """
    from ..operators.sketches import cms_counter_table

    ensure_engine_confs(spark)
    stream = event_stream(spark, sf_dir)
    counters = cms_counter_table(stream, "user_id")
    return drain(counters, "complete", name_prefix="cms_counters")


def streaming_daily_drift(
    spark: SparkSession,
    sf_dir: str,
    n_bins: int = 20,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming drift monitor: per event-time DAY, the PSI of the
    arriving click-value distribution against the static purchase
    reference — the production shape of distribution_drift_report
    (one fixed reference table, a stream of current data, one drift
    number per window).

    The stream maintains only (day-window, bin) counts — state is
    bounded at windows x n_bins rows regardless of input volume; the
    PSI arithmetic runs batch-side on the drained cell relation
    (Laplace 0.5-smoothing, identical to the batch monitor). Bin
    bounds come from a 1-row min/max aggregate over the static table
    (a bounded driver pull, baked into the stream's bin expression as
    plan literals).
    """
    ensure_engine_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    pop = ev.filter(F.col("event_type").isin("purchase", "click"))
    row = pop.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
    lo, hi = float(row["lo"]), float(row["hi"])

    def bin_col(c: F.Column) -> F.Column:
        return F.least(
            F.lit(n_bins - 1),
            F.floor((c - F.lit(lo)) / F.lit(hi - lo) * n_bins).cast("int"),
        )

    ref = (
        ev.filter(F.col("event_type") == "purchase")
        .select(bin_col(F.col("value")).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    stream = event_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            bin_col(F.col("value")).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    cur = drain(agg, "complete", name_prefix="daily_drift").select(
        F.unix_micros(F.col("w.start")).alias("day_start_us"), "b", "cb"
    )
    na = ref.agg(F.sum("ca").alias("na"))
    nd = cur.groupBy("day_start_us").agg(F.sum("cb").alias("n_cur"))
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("b"))
    grid = nd.crossJoin(F.broadcast(bins))
    cells = (
        grid.join(F.broadcast(ref), "b", "left")
        .join(cur, ["day_start_us", "b"], "left")
        .crossJoin(F.broadcast(na))
        .select(
            "day_start_us",
            "n_cur",
            ((F.coalesce(F.col("ca"), F.lit(0)) + 0.5) / (F.col("na") + n_bins * 0.5)).alias("pa"),
            ((F.coalesce(F.col("cb"), F.lit(0)) + 0.5) / (F.col("n_cur") + n_bins * 0.5)).alias("pb"),
        )
    )
    return cells.groupBy("day_start_us").agg(
        F.max("n_cur").cast("long").alias("n_cur"),
        F.round(
            F.sum((F.col("pb") - F.col("pa")) * F.log(F.col("pb") / F.col("pa"))),
            6,
        ).alias("psi"),
    )
