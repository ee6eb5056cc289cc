"""Lakehouse table-layer queries (CoW merge, time travel, optimize/vacuum, CDC, governance purge, streaming sink).

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
    SparkSession,
    Window,
    _dec,
    _dsum,
    _register,
    _t,
)




@_register(
    "cdc_merge_upsert",
    """
    WITH ev AS (
        SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
        FROM events
    ),
    bounds AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev),
    base AS (
        SELECT user_id, event_type AS b_type, value AS b_value, n_base
        FROM (
            SELECT ev.user_id, ev.event_type, ev.value,
                   row_number() OVER (PARTITION BY ev.user_id
                                      ORDER BY ev.us DESC,
                                               ev.event_id DESC) AS rn,
                   COUNT(*) OVER (PARTITION BY ev.user_id) AS n_base
            FROM ev CROSS JOIN bounds WHERE ev.us <= bounds.mid
        ) WHERE rn = 1
    ),
    cdc AS (
        SELECT user_id, event_type AS c_type, value AS c_value, n_cdc
        FROM (
            SELECT ev.user_id, ev.event_type, ev.value,
                   row_number() OVER (PARTITION BY ev.user_id
                                      ORDER BY ev.us DESC,
                                               ev.event_id DESC) AS rn,
                   COUNT(*) OVER (PARTITION BY ev.user_id) AS n_cdc
            FROM ev CROSS JOIN bounds WHERE ev.us > bounds.mid
        ) WHERE rn = 1
    )
    SELECT COALESCE(base.user_id, cdc.user_id) AS user_id,
           CASE WHEN cdc.user_id IS NULL THEN base.b_type
                ELSE cdc.c_type END AS last_event_type,
           ROUND(CASE WHEN cdc.user_id IS NULL THEN base.b_value
                      ELSE cdc.c_value END, 2) + 0 AS last_value,
           COALESCE(base.n_base, CAST(0 AS BIGINT)) AS n_base_ops,
           COALESCE(cdc.n_cdc, CAST(0 AS BIGINT)) AS n_cdc_ops,
           CASE WHEN cdc.user_id IS NULL THEN 'unchanged'
                WHEN base.user_id IS NULL THEN 'insert'
                ELSE 'update' END AS merge_action
    FROM base FULL OUTER JOIN cdc ON base.user_id = cdc.user_id
    WHERE NOT (cdc.user_id IS NOT NULL AND cdc.c_type = 'error')
    """,
    "§2.11 lakehouse ops (CDC MERGE / upsert-delete apply)",
    "The MERGE INTO shape every lakehouse table-maintenance job runs "
    "(Delta/Iceberg upsert semantics), expressed over the events "
    "table: the first half of the time range (split at the integer "
    "midpoint of epoch-micros, computed FROM the data so both engines "
    "agree exactly) is the base snapshot's per-key latest state; the "
    "second half is the CDC batch. Latest-op-per-key wins (us DESC, "
    "event_id DESC — a deterministic total order), a trailing "
    "event_type='error' op is the tombstone (DELETE: the key leaves "
    "the snapshot, including delete-of-nonexistent as a no-op), "
    "otherwise the op upserts — WHEN MATCHED UPDATE / WHEN NOT "
    "MATCHED INSERT / untouched keys pass through as 'unchanged'. "
    "Spark shape: each half is one user_id-keyed exchange carrying "
    "TWO window functions (the latest-row rank and the per-key op "
    "count ride the same shuffle), then a user_id full-outer join — "
    "at 100 TB this is the standard sort-merge MERGE with AQE skew "
    "handling, and the CDC side is typically orders of magnitude "
    "smaller (broadcastable). No collects; the only driver value is "
    "the 1-row bounds aggregate, cross-joined as a broadcast.",
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
    )
    bounds = F.broadcast(
        ev.agg(F.expr("(min(us) + max(us)) div 2").alias("mid"))
    )

    def latest_per_key(pred, type_a: str, value_a: str, n_a: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("us").desc(), F.col("event_id").desc()
        )
        wc = Window.partitionBy("user_id")
        return (
            ev.crossJoin(bounds)
            .filter(pred)
            .withColumn("__rn", F.row_number().over(w))
            .withColumn(n_a, F.count(F.lit(1)).over(wc))
            .filter(F.col("__rn") == 1)
            .select(
                "user_id",
                F.col("event_type").alias(type_a),
                F.col("value").alias(value_a),
                n_a,
            )
        )

    base = latest_per_key(F.col("us") <= F.col("mid"), "b_type", "b_value", "n_base")
    cdc = latest_per_key(F.col("us") > F.col("mid"), "c_type", "c_value", "n_cdc")
    merged = base.withColumnRenamed("user_id", "b_user").join(
        cdc.withColumnRenamed("user_id", "c_user"),
        F.col("b_user") == F.col("c_user"),
        "full_outer",
    )
    survives = ~(F.col("c_user").isNotNull() & (F.col("c_type") == "error"))
    return merged.filter(survives).select(
        F.coalesce("b_user", "c_user").alias("user_id"),
        F.when(F.col("c_user").isNull(), F.col("b_type"))
        .otherwise(F.col("c_type"))
        .alias("last_event_type"),
        (
            F.round(
                F.when(F.col("c_user").isNull(), F.col("b_value")).otherwise(
                    F.col("c_value")
                ),
                2,
            )
            + F.lit(0.0)
        ).alias("last_value"),
        F.coalesce(F.col("n_base"), F.lit(0).cast("long")).alias("n_base_ops"),
        F.coalesce(F.col("n_cdc"), F.lit(0).cast("long")).alias("n_cdc_ops"),
        F.when(F.col("c_user").isNull(), "unchanged")
        .when(F.col("b_user").isNull(), "insert")
        .otherwise("update")
        .alias("merge_action"),
    )


@_register(
    "scd2_state_intervals",
    """
    WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        FROM events
    ),
    runs AS (
        SELECT user_id, event_type, us, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w != event_type
                    THEN 1 ELSE 0 END AS is_start
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    grp AS (
        SELECT user_id, event_type, us, event_id,
               SUM(is_start) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS run_id
        FROM runs
    ),
    intervals AS (
        SELECT user_id, event_type AS state, run_id,
               MIN(us) AS valid_from_us,
               COUNT(*) AS n_events
        FROM grp GROUP BY user_id, event_type, run_id
    )
    SELECT user_id, state,
           CAST(run_id AS BIGINT) AS version_no,
           valid_from_us,
           COALESCE(lead(valid_from_us)
                        OVER (PARTITION BY user_id
                              ORDER BY valid_from_us, run_id),
                    CAST(9223372036854775807 AS BIGINT)) AS valid_to_us,
           CAST(CASE WHEN lead(valid_from_us)
                         OVER (PARTITION BY user_id
                               ORDER BY valid_from_us, run_id)
                         IS NULL
                     THEN 1 ELSE 0 END AS INT) AS is_current,
           n_events
    FROM intervals
    """,
    "§2.11 lakehouse ops (SCD Type-2 dimension history build)",
    "Slowly-Changing-Dimension Type-2 history from an event log — the "
    "standard warehouse dimension-versioning shape and the temporal "
    "complement of cdc_merge_upsert (which keeps only the latest "
    "state): collapse each user's event stream into maximal runs of "
    "equal state (gaps-and-islands: a lag-based change flag + running "
    "sum assigns run ids), then emit one versioned row per run with "
    "[valid_from, valid_to) half-open validity — valid_to is the next "
    "version's valid_from via lead, the open current version carries "
    "int64-max and is_current=1. Timestamps as epoch micros, run ids "
    "as version numbers; the deterministic (us, event_id) total order "
    "makes the row set hash-exact. Spark shape: ONE user_id exchange "
    "carries the lag window, the running-sum window, the per-run "
    "aggregate, AND the lead window (all partition on user_id — "
    "plan-tested single shuffle); state per row is O(1). At 100 TB "
    "this is the canonical no-join history build: the only shuffle "
    "moves (user_id, type, us, event_id) tuples, and a point-in-time "
    "lookup becomes a range predicate on [valid_from_us, valid_to_us) "
    "— the asof-join (events_asof_join) consumes exactly this layout.",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("event_type").over(w)
    is_start = F.when(
        prev.isNull() | (prev != F.col("event_type")), 1
    ).otherwise(0)
    grp = ev.withColumn(
        "run_id",
        F.sum(is_start).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    intervals = grp.groupBy(
        "user_id", F.col("event_type").alias("state"), "run_id"
    ).agg(
        F.min("us").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # run_id tiebreaker: two runs share valid_from_us when a user has
    # different-typed events at the same timestamp (common in the
    # duplicated scale corpus) — without it lead()/is_current are
    # nondeterministic within the tie block (same fix in the oracle)
    wv = Window.partitionBy("user_id").orderBy("valid_from_us", "run_id")
    nxt = F.lead("valid_from_us").over(wv)
    return intervals.select(
        "user_id",
        "state",
        F.col("run_id").cast("long").alias("version_no"),
        "valid_from_us",
        F.coalesce(nxt, F.lit(9223372036854775807).cast("long")).alias(
            "valid_to_us"
        ),
        F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
        "n_events",
    )


# -------------------------------------------------------------------------
# Lakehouse table materialization (sources/lakehouse.py consumers)
# -------------------------------------------------------------------------

# Shared oracle CTE chain: the events table split into three equal-width
# epoch-micro eras (boundaries from integer arithmetic both engines
# compute identically); era 0's latest-per-key state is the CREATE
# snapshot, eras 1/2 are sequential CDC MERGE batches with a trailing
# 'error' op as the tombstone — the exact fold the copy-on-write table
# build in _lakehouse_table_dir materializes on disk.
_LAKEHOUSE_SQL_PREFIX = """
    WITH ev AS (
        SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
        FROM events
    ),
    b AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
    tagged AS (
        SELECT ev.*, CASE WHEN us <= lo + (hi - lo) // 3 THEN 0
                          WHEN us <= lo + 2 * ((hi - lo) // 3) THEN 1
                          ELSE 2 END AS era
        FROM ev CROSS JOIN b
    ),
    latest AS (
        SELECT era, user_id, event_type AS last_event_type,
               value AS last_value
        FROM (SELECT t.*, row_number() OVER (PARTITION BY era, user_id
                                             ORDER BY us DESC,
                                                      event_id DESC) AS rn
              FROM tagged t) WHERE rn = 1
    ),
    v1 AS (SELECT user_id, last_event_type, last_value
           FROM latest WHERE era = 0),
    v2 AS (
        SELECT COALESCE(c.user_id, p.user_id) AS user_id,
               CASE WHEN c.user_id IS NULL THEN p.last_event_type
                    ELSE c.last_event_type END AS last_event_type,
               CASE WHEN c.user_id IS NULL THEN p.last_value
                    ELSE c.last_value END AS last_value
        FROM v1 p FULL OUTER JOIN
             (SELECT * FROM latest WHERE era = 1) c
          ON p.user_id = c.user_id
        WHERE NOT (c.user_id IS NOT NULL AND c.last_event_type = 'error')
    ),
    v3 AS (
        SELECT COALESCE(c.user_id, p.user_id) AS user_id,
               CASE WHEN c.user_id IS NULL THEN p.last_event_type
                    ELSE c.last_event_type END AS last_event_type,
               CASE WHEN c.user_id IS NULL THEN p.last_value
                    ELSE c.last_value END AS last_value
        FROM v2 p FULL OUTER JOIN
             (SELECT * FROM latest WHERE era = 2) c
          ON p.user_id = c.user_id
        WHERE NOT (c.user_id IS NOT NULL AND c.last_event_type = 'error')
    )
"""

_LAKEHOUSE_POINT_KEYS = [1, 18, 35]


def _lakehouse_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per on-disk state of the events table;
    ``scratch.published``, so concurrent processes are safe) the
    3-version copy-on-write table the lakehouse queries read: v1 CREATE
    from era-0 latest state, v2/v3 MERGE of the era-1/era-2 CDC
    batches."""
    from ..scratch import published

    return published(
        sf_dir, "events", "umt_lakehouse", "_UMT_BUILD_DONE",
        lambda stage: _build_lakehouse_table(spark, sf_dir, stage),
    )


def _build_lakehouse_table(
    spark: SparkSession, sf_dir: str, tdir: str
) -> None:
    from ..sources.lakehouse import create_table, merge_table

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("us"),
    )
    bounds = F.broadcast(
        ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    )
    era = (
        F.when(F.col("us") <= F.col("lo") + F.expr("(hi - lo) div 3"), 0)
        .when(
            F.col("us") <= F.col("lo") + F.expr("2 * ((hi - lo) div 3)"), 1
        )
        .otherwise(2)
    )
    w = Window.partitionBy("era", "user_id").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.crossJoin(bounds)
        .withColumn("era", era)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "era",
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        .localCheckpoint(eager=True)  # one scan feeds all three versions
    )
    create_table(latest.filter(F.col("era") == 0).drop("era"), tdir, "user_id")
    for e in (1, 2):
        cdc = (
            latest.filter(F.col("era") == e)
            .drop("era")
            .withColumn("__delete", F.col("last_event_type") == "error")
        )
        merge_table(spark, tdir, cdc, "user_id", "__delete")


@_register(
    "lakehouse_merge_roundtrip",
    _LAKEHOUSE_SQL_PREFIX + """
    SELECT user_id, last_event_type,
           ROUND(last_value, 2) + 0 AS last_value
    FROM v3
    """,
    "§2.11 lakehouse ops (copy-on-write MERGE materialized as a table)",
    "The missing half of the cdc_merge_upsert story: the MERGE output "
    "LIVES as an ACID table, not just a DataFrame. Three equal-width "
    "time eras of the events log become CREATE + two sequential MERGE "
    "commits of a copy-on-write versioned parquet table "
    "(sources/lakehouse.py): hash-bucket-partitioned snapshots, a "
    "per-version JSON manifest carrying unchanged buckets by "
    "REFERENCE (a merge rewrites only the buckets its CDC keys "
    "touch), and an os.replace-atomic _LATEST commit point — the "
    "Delta/Iceberg shape from Spark-shipped parts. This query reads "
    "the final committed version back OFF DISK; the oracle recomputes "
    "the same era fold relationally, so any write/manifest/read "
    "defect (lost bucket, stale reference, partial commit) breaks "
    "the hash. At 100 TB the CoW granularity is the entire point: a "
    "CDC batch touching 0.1% of keys rewrites ~0.1% of buckets "
    "while the manifest carries the rest forward untouched.",
)
def q_lakehouse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lakehouse import read_table

    tdir = _lakehouse_table_dir(spark, sf_dir)
    return read_table(spark, tdir).select(
        "user_id",
        "last_event_type",
        (F.round("last_value", 2) + F.lit(0.0)).alias("last_value"),
    )


@_register(
    "lakehouse_time_travel",
    _LAKEHOUSE_SQL_PREFIX + """
    SELECT 1 AS version, user_id, last_event_type,
           ROUND(last_value, 2) + 0 AS last_value FROM v1
    UNION ALL
    SELECT 2, user_id, last_event_type,
           ROUND(last_value, 2) + 0 FROM v2
    UNION ALL
    SELECT 3, user_id, last_event_type,
           ROUND(last_value, 2) + 0 FROM v3
    """,
    "§2.11 lakehouse ops (time travel / snapshot isolation reads)",
    "VERSION AS OF over the copy-on-write table: every manifest is "
    "immutable, so any session can reconstruct any committed snapshot "
    "from the directory alone. Reads versions 1, 2 AND 3 of the "
    "3-commit table and stacks them; the oracle recomputes each "
    "era-fold state independently — a reader observing version N "
    "must see exactly the pre-merge state, byte-for-byte, or the "
    "hash breaks (this is the snapshot-isolation contract that makes "
    "concurrent readers safe during a merge).",
)
def q_lakehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lakehouse import read_table

    tdir = _lakehouse_table_dir(spark, sf_dir)
    parts = [
        read_table(spark, tdir, version=v).select(
            F.lit(v).cast("int").alias("version"),
            "user_id",
            "last_event_type",
            (F.round("last_value", 2) + F.lit(0.0)).alias("last_value"),
        )
        for v in (1, 2, 3)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_register(
    "lakehouse_manifest_pruning",
    _LAKEHOUSE_SQL_PREFIX + f"""
    SELECT user_id, last_event_type,
           ROUND(last_value, 2) + 0 AS last_value
    FROM v3 WHERE user_id IN ({", ".join(map(str, _LAKEHOUSE_POINT_KEYS))})
    """,
    "§2.11 lakehouse ops (manifest-level data skipping)",
    "Point lookups against the versioned table route each key to its "
    "hash bucket and consult the manifest's per-bucket min/max key "
    "stats BEFORE planning the scan — only the (few) directories that "
    "can hold the keys are read, the rest are skipped at the manifest "
    "level (the file-skipping that makes lakehouse point queries "
    "feasible at 100 TB; a plan test asserts inputFiles() shrinks vs "
    "the full-table read). The exact key predicate still applies on "
    "the surviving buckets, so results are identical to a full scan — "
    "which is exactly what the oracle computes.",
)
def q_lakehouse_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lakehouse import read_table

    tdir = _lakehouse_table_dir(spark, sf_dir)
    keys = _LAKEHOUSE_POINT_KEYS
    return (
        read_table(spark, tdir, point_keys=keys)
        .filter(F.col("user_id").isin(*keys))
        .select(
            "user_id",
            "last_event_type",
            (F.round("last_value", 2) + F.lit(0.0)).alias("last_value"),
        )
    )


@_register(
    "lakehouse_history",
    _LAKEHOUSE_SQL_PREFIX + """
    SELECT 1 AS version, 'create' AS op, 0 AS parent,
           CAST(COUNT(DISTINCT user_id % 16) AS INT) AS n_buckets,
           COUNT(*) AS n_rows
    FROM v1
    UNION ALL
    SELECT 2, 'merge', 1, CAST(COUNT(DISTINCT user_id % 16) AS INT),
           COUNT(*) FROM v2
    UNION ALL
    SELECT 3, 'merge', 2, CAST(COUNT(DISTINCT user_id % 16) AS INT),
           COUNT(*) FROM v3
    """,
    "§2.11 lakehouse ops (DESCRIBE HISTORY / commit log audit)",
    "The table's commit log surfaced as a relation: one row per "
    "committed version with op, parent pointer, live-bucket count and "
    "row count — all read from the immutable manifests, no data files "
    "touched (KB-sized driver reads, any table size). The oracle "
    "recomputes every column from the raw events fold — bucket counts "
    "as COUNT(DISTINCT user_id % 16) — so the manifests' bookkeeping "
    "(carried-forward references, delete-emptied buckets dropping "
    "out, per-version row totals) is hash-verified against first "
    "principles.",
)
def q_lakehouse_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lakehouse import table_history

    tdir = _lakehouse_table_dir(spark, sf_dir)
    return table_history(spark, tdir)


@_register(
    "lakehouse_change_feed",
    _LAKEHOUSE_SQL_PREFIX + """
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           CASE WHEN a.user_id IS NULL THEN 'insert'
                WHEN b.user_id IS NULL THEN 'delete'
                ELSE 'update' END AS change_op,
           a.last_event_type AS before_event_type,
           ROUND(a.last_value, 2) + 0 AS before_value,
           b.last_event_type AS after_event_type,
           ROUND(b.last_value, 2) + 0 AS after_value
    FROM v1 a FULL OUTER JOIN v3 b ON a.user_id = b.user_id
    WHERE a.user_id IS NULL OR b.user_id IS NULL
       OR a.last_event_type <> b.last_event_type
       OR a.last_value <> b.last_value
    """,
    "§2.11 lakehouse ops (change data feed / version diff)",
    "How downstream incrementals consume a lakehouse table: the "
    "CHANGES between two committed versions as a relation — one row "
    "per key whose state differs, tagged insert/update/delete with "
    "before/after payloads. Reconstructed as a full-outer key join of "
    "the two immutable snapshots (both sides share the same bucket "
    "layout, so the join is one co-located key exchange; per-commit "
    "CDC batches are the free fast path this diff reconstructs when "
    "those batches have been vacuumed). The oracle recomputes the "
    "v1-vs-v3 era-fold diff relationally — a key wrongly tagged, a "
    "missed delete, or an unchanged key leaking into the feed breaks "
    "the hash.",
)
def q_lakehouse_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lakehouse import table_changes

    tdir = _lakehouse_table_dir(spark, sf_dir)
    ch = table_changes(spark, tdir, 1, 3, "user_id")
    return ch.select(
        "user_id",
        "change_op",
        F.col("before.last_event_type").alias("before_event_type"),
        (F.round("before.last_value", 2) + F.lit(0.0)).alias("before_value"),
        F.col("after.last_event_type").alias("after_event_type"),
        (F.round("after.last_value", 2) + F.lit(0.0)).alias("after_value"),
    )


def _derived_lakehouse_dir(
    spark: SparkSession,
    sf_dir: str,
    suffix: str,
    build,
    copy_shared: bool = True,
):
    """Materialize a PRIVATE derived table once per on-disk state of
    the events table (``scratch.published``, so concurrent processes
    are safe). The shared cached table the other lakehouse queries
    read is never mutated — lifecycle builders either
    work on a full copy of it or start from an empty dir
    (``copy_shared=False``); ``build(tdir)`` applies the
    suffix-specific commits."""
    import os
    import shutil

    from ..scratch import published

    base = _lakehouse_table_dir(spark, sf_dir) if copy_shared else None

    def _build(stage: str) -> None:
        if copy_shared:
            shutil.copytree(base, stage, dirs_exist_ok=True)
            os.remove(os.path.join(stage, "_UMT_BUILD_DONE"))
        build(stage)

    return published(
        sf_dir, "events", f"umt_lakehouse_{suffix}",
        f"_UMT_{suffix.upper()}_DONE", _build,
    )


def _lakehouse_ov_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """A private copy of the 3-version table taken through the full
    maintenance lifecycle: OPTIMIZE (v4 — compact, self-contained
    rewrite) then VACUUM (retain only v4's files). The vacuum
    accounting is persisted beside the table so cached rebuilds report
    identical numbers."""
    import json
    import os

    from ..sources.lakehouse import optimize_table, vacuum_table

    def build(tdir: str) -> None:
        optimize_table(spark, tdir, "user_id")
        stats = vacuum_table(tdir, retain_versions=1)
        with open(os.path.join(tdir, "_UMT_OV_STATS.json"), "w") as f:
            json.dump(stats, f)

    return _derived_lakehouse_dir(spark, sf_dir, "ov", build)


@_register(
    "lakehouse_read_after_vacuum",
    _LAKEHOUSE_SQL_PREFIX + """
    SELECT user_id, last_event_type,
           ROUND(last_value, 2) + 0 AS last_value
    FROM v3
    """,
    "§2.11 lakehouse ops (OPTIMIZE compaction + VACUUM retention)",
    "The maintenance lifecycle a long-lived MERGE table needs: "
    "OPTIMIZE rewrites the latest snapshot into one self-contained "
    "compacted version (each bucket ONE file via a bucket-aligned "
    "repartition; no references into older snapshots), then VACUUM "
    "deletes every bucket directory outside the retention window "
    "(manifests stay — the commit log is KB audit history; reads of "
    "vacuumed versions fail explicitly). This query reads the table "
    "back AFTER both: the hash against the raw era fold proves "
    "compaction moved bytes without changing a row and vacuum "
    "deleted only unreferenced files — a stale manifest reference or "
    "an over-eager delete breaks it. At 100 TB this is the nightly "
    "OPTIMIZE/VACUUM pair that keeps file counts and storage bounded "
    "under continuous CDC.",
)
def q_lakehouse_read_after_vacuum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.lakehouse import read_table

    tdir = _lakehouse_ov_table_dir(spark, sf_dir)
    return read_table(spark, tdir).select(
        "user_id",
        "last_event_type",
        (F.round("last_value", 2) + F.lit(0.0)).alias("last_value"),
    )


@_register(
    "lakehouse_optimize_vacuum",
    _LAKEHOUSE_SQL_PREFIX + """
    , era_buckets AS (
        SELECT era, user_id % 16 AS b FROM latest
    )
    SELECT 4 AS latest_version,
           (SELECT COUNT(DISTINCT user_id % 16) FROM v1)
         + (SELECT COUNT(DISTINCT user_id % 16) FROM v2
            WHERE user_id % 16 IN (SELECT b FROM era_buckets WHERE era = 1))
         + (SELECT COUNT(DISTINCT user_id % 16) FROM v3
            WHERE user_id % 16 IN (SELECT b FROM era_buckets WHERE era = 2))
               AS removed_dirs,
           (SELECT COUNT(DISTINCT user_id % 16) FROM v3) AS live_dirs,
           (SELECT COUNT(*) FROM v3) AS latest_rows
    """,
    "§2.11 lakehouse ops (VACUUM file accounting, first-principles)",
    "VACUUM's filesystem effect verified against first principles: "
    "the oracle derives, from the raw event fold alone, exactly how "
    "many bucket directories each commit physically wrote (v1 = the "
    "create state's distinct buckets; each merge = the buckets its "
    "CDC keys touched that still held rows afterwards) and therefore "
    "how many dirs a retain-latest-only vacuum after OPTIMIZE must "
    "remove, and how many live dirs the self-contained optimized "
    "version keeps. The engine reports what the filesystem walk "
    "actually counted and deleted — over-deletion, under-deletion, "
    "or a compaction that silently dropped/duplicated a bucket all "
    "break the hash.",
)
def q_lakehouse_optimize_vacuum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import json
    import os

    from ..sources.lakehouse import latest_version, read_table

    tdir = _lakehouse_ov_table_dir(spark, sf_dir)
    with open(os.path.join(tdir, "_UMT_OV_STATS.json")) as f:
        stats = json.load(f)
    n_rows = read_table(spark, tdir).count()
    return spark.createDataFrame(
        [(latest_version(tdir), stats["removed_dirs"], stats["live_dirs"],
          n_rows)],
        "latest_version int, removed_dirs long, live_dirs long, "
        "latest_rows long",
    )


def _lakehouse_evo_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """A private copy of the 3-version table taken through schema
    evolution + rollback: v4 = ALTER TABLE ADD COLUMN value_tier
    (metadata-only), v5 = MERGE populating the new column for the
    user_id % 4 == 0 keys, v6 = RESTORE to version 2 (metadata-only
    rollback; v5 stays time-travel readable)."""
    from ..sources.lakehouse import add_column, merge_table, read_table, \
        restore_table

    def build(tdir: str) -> None:
        add_column(tdir, "value_tier", "string")  # v4: KB manifest only
        cdc = (
            read_table(spark, tdir)  # v4 read: value_tier null-filled
            .filter((F.col("user_id") % 4) == 0)
            .withColumn(
                "value_tier",
                F.when(F.col("last_value") >= 50.0, F.lit("high"))
                .otherwise(F.lit("low")),
            )
            .withColumn("__delete", F.lit(False))
        )
        merge_table(spark, tdir, cdc, "user_id", "__delete")  # v5
        restore_table(tdir, 2)  # v6: re-references v2's buckets+schema

    return _derived_lakehouse_dir(spark, sf_dir, "evo", build)


@_register(
    "lakehouse_schema_evolution",
    _LAKEHOUSE_SQL_PREFIX + """
    SELECT user_id, last_event_type,
           ROUND(last_value, 2) + 0 AS last_value,
           CASE WHEN user_id % 4 = 0 THEN
                CASE WHEN last_value >= 50.0 THEN 'high' ELSE 'low' END
           END AS value_tier
    FROM v3
    """,
    "§2.11 lakehouse ops (metadata-only schema evolution)",
    "ALTER TABLE ADD COLUMN on the copy-on-write table: the evolution "
    "commit is METADATA-ONLY (a plan test asserts zero new data "
    "directories) — the widened schema lives in the manifest and the "
    "parquet reader null-fills the column for every file written "
    "before it; a follow-up MERGE then populates the column for the "
    "quarter of keys it touches, rewriting only their buckets. This "
    "query reads the post-merge version back off disk; the oracle "
    "derives the same relation from the raw era fold (tier for the "
    "merged keys, NULL for untouched rows), so a wrong null-fill, a "
    "schema applied to the wrong files, or a merge that rewrote more "
    "than its buckets all break the hash. At 100 TB this is why "
    "column adds cost a KB manifest write instead of a table rewrite.",
)
def q_lakehouse_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.lakehouse import read_table

    tdir = _lakehouse_evo_table_dir(spark, sf_dir)
    return read_table(spark, tdir, version=5).select(
        "user_id",
        "last_event_type",
        (F.round("last_value", 2) + F.lit(0.0)).alias("last_value"),
        "value_tier",
    )


@_register(
    "lakehouse_restore",
    _LAKEHOUSE_SQL_PREFIX + """
    SELECT 5 AS version, 'merge' AS op, user_id, last_event_type,
           ROUND(last_value, 2) + 0 AS last_value
    FROM v3
    UNION ALL
    SELECT 6, 'restore', user_id, last_event_type,
           ROUND(last_value, 2) + 0
    FROM v2
    """,
    "§2.11 lakehouse ops (RESTORE / rollback as a new commit)",
    "RESTORE TABLE ... VERSION AS OF 2 on the evolved table: the "
    "rollback is a NEW metadata-only commit (v6) that re-references "
    "version 2's buckets AND its pre-evolution schema — nothing is "
    "deleted, so the bad history (v5, the post-evolution merge) stays "
    "time-travel readable for audit. The query stacks the "
    "still-readable v5 beside the restored latest; the oracle "
    "recomputes both states from the raw era fold, so a restore that "
    "copied data instead of references, resurrected the dropped "
    "column, or clobbered intermediate history breaks the hash. This "
    "is the Delta RESTORE contract: bad-deploy rollback in O(KB) on "
    "a table of any size.",
)
def q_lakehouse_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lakehouse import latest_version, read_table

    tdir = _lakehouse_evo_table_dir(spark, sf_dir)
    latest = latest_version(tdir)  # 6 — pinned by the oracle's literal
    v5 = read_table(spark, tdir, version=5).select(
        F.lit(5).cast("int").alias("version"),
        F.lit("merge").alias("op"),
        "user_id",
        "last_event_type",
        (F.round("last_value", 2) + F.lit(0.0)).alias("last_value"),
    )
    restored = read_table(spark, tdir, version=latest).select(
        F.lit(latest).cast("int").alias("version"),
        F.lit("restore").alias("op"),
        "user_id",
        "last_event_type",
        (F.round("last_value", 2) + F.lit(0.0)).alias("last_value"),
    )
    return v5.unionByName(restored)


def _lakehouse_mv_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Incrementally-maintained aggregate table: per-user (n_events,
    exact-decimal value sum) built as CREATE from era 0 then TWO
    ``upsert_combine`` refreshes folding the era-1/era-2 partial
    aggregates into stored state — never a full recompute."""
    from ..scratch import published

    return published(
        sf_dir, "events", "umt_lakehouse_mv", "_UMT_MV_DONE",
        lambda stage: _build_mv_table(spark, sf_dir, stage),
    )


def _build_mv_table(spark: SparkSession, sf_dir: str, tdir: str) -> None:
    from ..sources.lakehouse import create_table, upsert_combine

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "value", F.unix_micros("ts").alias("us")
    )
    bounds = F.broadcast(
        ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    )
    era = (
        F.when(F.col("us") <= F.col("lo") + F.expr("(hi - lo) div 3"), 0)
        .when(
            F.col("us") <= F.col("lo") + F.expr("2 * ((hi - lo) div 3)"), 1
        )
        .otherwise(2)
    )
    partials = (
        ev.crossJoin(bounds)
        .withColumn("era", era)
        .groupBy("era", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("decimal(18,2)").alias("sum_value"),
        )
        .localCheckpoint(eager=True)  # one scan feeds all three commits
    )
    create_table(
        partials.filter(F.col("era") == 0).drop("era"), tdir, "user_id"
    )
    for e in (1, 2):
        upsert_combine(
            spark,
            tdir,
            partials.filter(F.col("era") == e).drop("era"),
            "user_id",
            ["n_events", "sum_value"],
        )


@_register(
    "lakehouse_incremental_mv",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_value
    FROM events GROUP BY user_id
    """,
    "§2.11 lakehouse ops (incremental materialized-view maintenance)",
    "The aggregate table nobody can afford to recompute at 100 TB, "
    "maintained incrementally instead: per-user event count + "
    "exact-decimal value sum stored AS a versioned lakehouse table, "
    "CREATEd from the first time-era and then refreshed by "
    "upsert_combine (sources/lakehouse.py) folding each later era's "
    "PARTIAL aggregates into stored state — the state read is "
    "bucket-pruned to the delta's bucket set and the commit rewrites "
    "only touched buckets, so refresh cost scales with the delta, "
    "not the table. The oracle is the full recompute over ALL "
    "events: the incremental fold must be indistinguishable from it "
    "(decimal partials make the sum order-independent, so "
    "delta-order cannot leak into the hash). This is the "
    "incremental-view-maintenance contract behind every streaming "
    "gold table.",
)
def q_lakehouse_incremental_mv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.lakehouse import read_table

    tdir = _lakehouse_mv_table_dir(spark, sf_dir)
    return read_table(spark, tdir).select(
        "user_id",
        "n_events",
        F.round(F.col("sum_value").cast("double"), 2).alias("total_value"),
    )


@_register(
    "streaming_lakehouse_sink",
    """
    WITH latest AS (
        SELECT user_id, event_type, value
        FROM (SELECT user_id, event_type, value,
                     row_number() OVER (
                         PARTITION BY user_id
                         ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1
    )
    SELECT user_id,
           event_type AS last_event_type,
           ROUND(CAST(value AS DOUBLE), 2) + 0 AS last_value,
           TRUE AS ok_multi_batch,
           TRUE AS ok_commit_per_batch
    FROM latest WHERE event_type <> 'error'
    """,
    "§2.9/§2.11 (streaming CDC upsert sink into the lakehouse table)",
    "The bronze-to-silver pipeline as it actually runs in production: "
    "a Structured Streaming query replays the event log as >=5 "
    "time-ordered micro-batches and foreachBatch MERGEs each batch's "
    "CDC reduction (latest state per key, 'error' as tombstone) into "
    "the copy-on-write lakehouse table — one table version per "
    "non-empty micro-batch, sequential commit order guaranteed by "
    "the streaming engine. Because merges are per-key "
    "last-writer-wins and batches arrive in (ts, event_id) order, "
    "the final table must equal the GLOBAL latest-event-per-key fold "
    "regardless of batch boundaries — the oracle computes exactly "
    "that fold, so a lost commit, out-of-order batch, or tombstone "
    "leak breaks the hash. ok_multi_batch pins that the run really "
    "was incremental (>=5 data batches — CREATE plus sequential "
    "MERGEs; the count trades test-scale wall-clock, never the "
    "exactly-once contract); ok_commit_per_batch pins "
    "the version-per-batch commit-log shape. At 100 TB this is the "
    "standard Delta streaming-upsert sink: per-batch cost is one "
    "key shuffle plus a rewrite of only the touched buckets.",
)
def q_streaming_lakehouse_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from ..scratch import query_dir
    from ..sources.lakehouse import read_table
    from ..streaming.lakehouse_sink import stream_cdc_into_table

    # the table lives only for this query: a query_dir (tmpfs when the
    # host has one) lets the 5 sequential CoW MERGE commits write their
    # parquet versions + manifests to RAM instead of paying fsyncs per
    # batch. On a real deployment the sink targets durable storage; the
    # commit protocol is unchanged.
    with query_dir("umt_stream_sink_") as scratch:
        tdir = os.path.join(scratch, "tbl")
        ev = stream_cdc_into_table(spark, sf_dir, tdir)
        final = (
            read_table(spark, tdir)
            .select(
                "user_id",
                "last_event_type",
                (F.round("last_value", 2) + F.lit(0.0)).alias("last_value"),
            )
            # pin before the block removes the table dir
            .localCheckpoint(eager=True)
        )
    return final.select(
        "*",
        F.lit(ev["n_data_batches"] >= 5).alias("ok_multi_batch"),
        F.lit(ev["n_versions"] == ev["n_data_batches"]).alias(
            "ok_commit_per_batch"
        ),
    )


def _zorder_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Events Z-ORDER-clustered on (user_id, value) with file-level
    zone maps (built once per dataset; ``scratch.published``)."""
    from ..scratch import published
    from ..sources.lakehouse import create_zordered_table

    def build(stage: str) -> None:
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        create_zordered_table(ev, stage, ("user_id", "value"))

    return published(sf_dir, "events", "umt_zorder", "_UMT_Z_DONE", build)


_Z_USER_RANGE = (10, 25)
_Z_VALUE_RANGE = (20.0, 80.0)


@_register(
    "zorder_zone_map_pruning",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_value
    FROM events
    WHERE user_id BETWEEN {_Z_USER_RANGE[0]} AND {_Z_USER_RANGE[1]}
      AND value BETWEEN {_Z_VALUE_RANGE[0]} AND {_Z_VALUE_RANGE[1]}
    GROUP BY event_type
    """,
    "§2.11 lakehouse ops (Z-order clustering + file-level zone maps)",
    "OPTIMIZE ZORDER BY, from Spark-shipped parts: the events table "
    "rewritten clustered on a Morton interleave of (user_id, value) "
    "— range-partitioned and sorted on the code, so each output file "
    "covers a tight rectangle in the two-column space — with per-FILE "
    "min/max zone maps of BOTH raw columns in the manifest. A "
    "two-sided range query then prunes at file granularity before "
    "the scan is planned (read_zordered; a single-column sort can "
    "only skip on its leading column — the Morton interleave is what "
    "buys simultaneous skipping on both). The exact predicate still "
    "applies to the surviving files, and the oracle computes the "
    "same aggregate over the raw table — over-pruning (zone map too "
    "tight, quantization bug, lost file) surfaces as missing rows "
    "and breaks the hash. Plan-tested: the pruned read scans fewer "
    "files than the full table. At 100 TB this is the layout that "
    "turns selective two-column analytics from full-scan into "
    "touched-rectangles.",
)
def q_zorder_zone_map_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.lakehouse import read_zordered

    tdir = _zorder_table_dir(spark, sf_dir)
    lo_u, hi_u = _Z_USER_RANGE
    lo_v, hi_v = _Z_VALUE_RANGE
    pruned = read_zordered(
        spark, tdir,
        ranges={"user_id": (lo_u, hi_u), "value": (lo_v, hi_v)},
    )
    return (
        pruned.filter(
            F.col("user_id").between(lo_u, hi_u)
            & F.col("value").between(lo_v, hi_v)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(_dec("value")).alias("total_value"),
        )
    )


def _lakehouse_rb_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """A private copy of the 3-version table taken through partition
    evolution: v4 = REBUCKET 16 -> 32 (self-contained rewrite, new
    layout in the manifest), v5 = MERGE doubling last_value for the
    user_id % 10 == 7 keys — copy-on-write at the NEW granularity."""
    from ..sources.lakehouse import merge_table, read_table, rebucket_table

    def build(tdir: str) -> None:
        rebucket_table(spark, tdir, "user_id", 32)  # v4
        cdc = (
            read_table(spark, tdir)
            .filter((F.col("user_id") % 10) == 7)
            .withColumn("last_value", F.round(F.col("last_value") * 2, 2))
            .withColumn("__delete", F.lit(False))
        )
        merge_table(spark, tdir, cdc, "user_id", "__delete")  # v5

    return _derived_lakehouse_dir(spark, sf_dir, "rb", build)


@_register(
    "lakehouse_rebucket",
    _LAKEHOUSE_SQL_PREFIX + """
    SELECT user_id, last_event_type,
           CASE WHEN user_id % 10 = 7 THEN ROUND(last_value * 2, 2) + 0
                ELSE ROUND(last_value, 2) + 0 END AS last_value
    FROM v3
    """,
    "§2.11 lakehouse ops (partition evolution / bucket-spec change)",
    "The Iceberg partition-evolution move: when a table's volume "
    "outgrows its bucket width, REBUCKET rewrites the latest snapshot "
    "under a new bucket count as one self-contained version — and "
    "every version keeps ITS OWN layout in its manifest, so time "
    "travel to a pre-evolution snapshot still routes point lookups "
    "with the old modulus (unit-tested) while the follow-up MERGE "
    "copy-on-writes at the NEW granularity (a CDC batch touching "
    "user_id % 10 == 7 rewrites only its buckets-of-32). The query "
    "reads the post-evolution merged state off disk; the oracle "
    "derives it from the raw era fold, so a row lost or duplicated "
    "in the re-layout — or a merge routed with the wrong modulus, "
    "which would orphan updates into unreferenced buckets — breaks "
    "the hash.",
)
def q_lakehouse_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lakehouse import read_table

    tdir = _lakehouse_rb_table_dir(spark, sf_dir)
    return read_table(spark, tdir).select(
        "user_id",
        "last_event_type",
        (F.round("last_value", 2) + F.lit(0.0)).alias("last_value"),
    )


_QG_ARMS = """
        SELECT {v} AS version, 'uniqueness_user_id' AS constraint_name,
               CAST(COUNT(DISTINCT user_id) AS DOUBLE) / COUNT(*) AS metric,
               CAST(1.0 AS DOUBLE) AS threshold FROM v{v}
        UNION ALL
        SELECT {v}, 'completeness_last_event_type',
               CAST(COUNT(last_event_type) AS DOUBLE) / COUNT(*),
               CAST(1.0 AS DOUBLE) FROM v{v}
        UNION ALL
        SELECT {v}, 'compliance_value_positive',
               CAST(SUM(CASE WHEN last_value > 0 THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*),
               CAST(1.0 AS DOUBLE) FROM v{v}"""


@_register(
    "lakehouse_quality_gate",
    _LAKEHOUSE_SQL_PREFIX
    + ", m AS ("
    + "\n    UNION ALL\n".join(_QG_ARMS.format(v=v) for v in (1, 2, 3))
    + """
    )
    SELECT version, constraint_name, metric, threshold,
           metric >= threshold AS passed
    FROM m
    """,
    "§2.11 lakehouse ops × data quality (per-commit expectation gate)",
    "The CI gate a production lakehouse runs on every commit: the "
    "declarative expectation suite (operators/expectations.py) "
    "validated against EACH committed version of the copy-on-write "
    "table — key uniqueness (a MERGE that duplicates or loses a key "
    "fails here before any consumer sees it), completeness of the "
    "payload, and value compliance, one single-pass aggregation per "
    "version over its manifest-reconstructed snapshot. The oracle "
    "recomputes all nine (version, constraint) metrics from the raw "
    "era folds, so the gate verifies BOTH the table's commit "
    "integrity and the expectation engine's arithmetic in one hash. "
    "At 100 TB the gate reads each commit's CHANGED buckets plus "
    "carried references — the same pruned paths the merge wrote.",
)
def q_lakehouse_quality_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.expectations import (
        completeness,
        compliance,
        run_checks,
        uniqueness,
    )
    from ..sources.lakehouse import read_table

    tdir = _lakehouse_table_dir(spark, sf_dir)
    suite = lambda: [  # noqa: E731 — fresh Columns per version
        uniqueness("uniqueness_user_id", "user_id"),
        completeness(
            "completeness_last_event_type", "last_event_type"
        ),
        compliance(
            "compliance_value_positive", F.col("last_value") > 0
        ),
    ]
    parts = [
        run_checks(read_table(spark, tdir, version=v), suite())
        .select(
            F.lit(v).cast("int").alias("version"),
            "constraint_name", "metric", "threshold", "passed",
        )
        for v in (1, 2, 3)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _incremental_dedup_metrics(spark: SparkSession, sf_dir: str) -> list:
    """Drive three 'crawl snapshots' (doc_id % 3) through a lakehouse
    fingerprint STORE: era 0 creates it, each later era bucket-prunes
    the store read to its batch's buckets, splits the batch into
    carryover vs new fingerprints, and MERGEs only the new ones in.
    Returns the per-era accounting (3 tuples — bounded driver data);
    cached beside the store since merges mutate state. Keyed on the
    documents table it derives from (``scratch.published``)."""
    import json as _json
    import os

    from ..scratch import published

    stats_name = "_UMT_IDD_STATS.json"
    tdir = published(
        sf_dir, "documents", "umt_lakehouse_idd", stats_name,
        lambda stage: _build_incremental_dedup_store(spark, sf_dir, stage,
                                                     stats_name),
    )
    with open(os.path.join(tdir, stats_name)) as f:
        return [tuple(r) for r in _json.load(f)]


def _build_incremental_dedup_store(
    spark: SparkSession, sf_dir: str, tdir: str, stats_name: str
) -> None:
    import json as _json
    import os

    from ..sources.lakehouse import (
        _bucket_expr, create_table, merge_table, read_table,
    )

    fp_num = F.conv(
        F.substring(F.md5("text"), 1, 15), 16, 10
    ).cast("long")  # 60-bit positive fingerprint key
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 3).alias("era"), fp_num.alias("fp")
    ).localCheckpoint(eager=True)  # one text scan feeds all three eras

    rows = []
    for era in (0, 1, 2):
        batch = (
            docs.filter(F.col("era") == era)
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("doc_id").alias("first_doc_id"))
            .localCheckpoint(eager=True)  # feeds counts + join + merge
        )
        agg = batch.agg(
            F.sum("n").alias("docs"), F.count(F.lit(1)).alias("fps")
        ).first()
        n_docs, n_fps = int(agg["docs"]), int(agg["fps"])
        if era == 0:
            create_table(
                batch.select("fp", "first_doc_id"), tdir, "fp"
            )
            n_carry = 0
        else:
            dbuckets = sorted(
                r[0]
                for r in batch.select(_bucket_expr("fp")).distinct().collect()
            )
            state = read_table(spark, tdir, buckets=dbuckets)
            n_carry = batch.join(state, "fp", "left_semi").count()
            new = (
                batch.join(state, "fp", "left_anti")
                .select("fp", "first_doc_id")
                .withColumn("__delete", F.lit(False))
            )
            merge_table(spark, tdir, new, "fp", "__delete")
        rows.append(
            (era, n_docs, n_docs - n_fps, n_carry, n_fps - n_carry)
        )
    with open(os.path.join(tdir, stats_name), "w") as f:
        _json.dump(rows, f)


@_register(
    "incremental_dedup_commit",
    """
    WITH fp AS (
        SELECT doc_id, doc_id % 3 AS era,
               substring(md5(text), 1, 15) AS f
        FROM documents
    ),
    by_era AS (
        SELECT era, f, COUNT(*) AS n FROM fp GROUP BY era, f
    ),
    firsts AS (SELECT f, MIN(era) AS first_era FROM by_era GROUP BY f)
    SELECT era,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_intra_batch_dup,
           CAST(SUM(CASE WHEN first_era < era THEN 1 ELSE 0 END)
                AS BIGINT) AS n_carryover_fps,
           CAST(SUM(CASE WHEN first_era = era THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new_fps
    FROM by_era JOIN firsts USING (f)
    GROUP BY era
    """,
    "§2.11 dedup × lakehouse (incremental dedup against a versioned "
    "fingerprint store)",
    "How dedup actually runs at 100 TB: never corpus-vs-corpus, but "
    "each incoming batch against a PERSISTED fingerprint store. Three "
    "crawl snapshots stream through a lakehouse table keyed by a "
    "60-bit md5 fingerprint: the batch first dedups internally, then "
    "anti/semi-joins a BUCKET-PRUNED store read (the upsert_combine "
    "read path — cost scales with the batch's bucket set, not "
    "accumulated history), and MERGEs only genuinely-new fingerprints "
    "in (copy-on-write, touched buckets only). The oracle derives "
    "every per-era count (docs, intra-batch dups, carryover vs the "
    "store, new fingerprints) from first principles on the raw "
    "corpus, so a store that loses, duplicates, or resurrects a "
    "fingerprint across commits breaks the hash. Text never shuffles "
    "— one scan feeds all eras; everything downstream moves 16-byte "
    "keys.",
)
def q_incremental_dedup_commit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    rows = _incremental_dedup_metrics(spark, sf_dir)
    return spark.createDataFrame(
        rows,
        "era long, n_docs long, n_intra_batch_dup long, "
        "n_carryover_fps long, n_new_fps long",
    )


def _lakehouse_clone_dir(spark: SparkSession, sf_dir: str) -> str:
    """Shallow clone of the shared 3-version table + one divergent
    MERGE (tombstones for user_id % 5 == 2) applied to the CLONE only.
    The clone references the source's files by absolute path — nothing
    is copied; its merge writes land under its own data/ dir."""
    from ..sources.lakehouse import clone_table, merge_table, read_table

    base = _lakehouse_table_dir(spark, sf_dir)

    def build(tdir: str) -> None:
        clone_table(base, tdir)
        cdc = (
            read_table(spark, tdir)
            .filter((F.col("user_id") % 5) == 2)
            .withColumn("__delete", F.lit(True))
        )
        merge_table(spark, tdir, cdc, "user_id", "__delete")

    return _derived_lakehouse_dir(spark, sf_dir, "cl", build,
                                  copy_shared=False)


@_register(
    "lakehouse_shallow_clone",
    _LAKEHOUSE_SQL_PREFIX + """
    SELECT 'source' AS rel, user_id, last_event_type,
           ROUND(last_value, 2) + 0 AS last_value
    FROM v3
    UNION ALL
    SELECT 'clone', user_id, last_event_type,
           ROUND(last_value, 2) + 0
    FROM v3 WHERE user_id % 5 <> 2
    """,
    "§2.11 lakehouse ops (zero-copy SHALLOW CLONE + divergence)",
    "Delta SHALLOW CLONE from manifest parts: the clone's v1 "
    "references the source's current data files by absolute path — "
    "O(KB) metadata, zero bytes copied (unit test: the clone has no "
    "data directory until its first own write) — and a divergent "
    "MERGE (deleting every fifth user) copy-on-writes into the "
    "CLONE's directory only. The query stacks both tables' latest "
    "states; the oracle recomputes them independently, so clone "
    "leakage in either direction (source rows mutated, or the "
    "clone still showing deleted keys through stale references) "
    "breaks the hash. At 100 TB this is how dev/test/experiment "
    "copies of production tables cost nothing until they diverge.",
)
def q_lakehouse_shallow_clone(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.lakehouse import read_table

    src = _lakehouse_table_dir(spark, sf_dir)
    clone = _lakehouse_clone_dir(spark, sf_dir)
    cols = lambda rel: [  # noqa: E731
        F.lit(rel).alias("rel"),
        F.col("user_id"),
        F.col("last_event_type"),
        (F.round("last_value", 2) + F.lit(0.0)).alias("last_value"),
    ]
    return read_table(spark, src).select(*cols("source")).unionByName(
        read_table(spark, clone).select(*cols("clone"))
    )


_GDPR_USER = 7


def _lakehouse_gdpr_dir(spark: SparkSession, sf_dir: str) -> str:
    """A private copy of the 3-version table taken through a privacy
    purge of one user: tombstone MERGE (v4) -> OPTIMIZE into a
    self-contained v5 -> VACUUM retaining only v5. The user's pre-purge
    row count is persisted beside the table (post-vacuum history is
    deliberately unreadable)."""
    import json as _json
    import os

    from ..sources.lakehouse import (
        merge_table, optimize_table, read_table, vacuum_table,
    )

    def build(tdir: str) -> None:
        pre = (
            read_table(spark, tdir)
            .filter(F.col("user_id") == _GDPR_USER)
            .count()
        )
        cdc = (
            read_table(spark, tdir)
            .filter(F.col("user_id") == _GDPR_USER)
            .withColumn("__delete", F.lit(True))
        )
        merge_table(spark, tdir, cdc, "user_id", "__delete")  # tombstone
        optimize_table(spark, tdir, "user_id")  # self-contained
        vacuum_table(tdir, retain_versions=1)   # physical erase
        with open(os.path.join(tdir, "_UMT_GD_STATS.json"), "w") as f:
            _json.dump({"prepurge_rows": pre}, f)

    return _derived_lakehouse_dir(spark, sf_dir, "gd", build)


@_register(
    "lakehouse_gdpr_purge",
    _LAKEHOUSE_SQL_PREFIX + f"""
    SELECT (SELECT COUNT(*) FROM v3 WHERE user_id <> {_GDPR_USER})
               AS n_rows_latest,
           (SELECT COUNT(*) FROM v3 WHERE user_id = {_GDPR_USER})
               AS n_user_rows_prepurge,
           CAST(0 AS BIGINT) AS trace_rows,
           TRUE AS ok_history_unreadable
    """,
    "§2.11 lakehouse ops (GDPR right-to-be-forgotten purge)",
    "The privacy delete a versioned table must support DESPITE "
    "immutable history: tombstone MERGE, then OPTIMIZE into a "
    "self-contained version, then VACUUM to the latest — after which "
    "the engine PROVES physical erasure two ways: a recursive scan of "
    "every parquet file still on disk finds zero rows for the user "
    "(trace_rows, genuinely counted), and time travel to any "
    "pre-purge version fails explicitly (ok_history_unreadable from "
    "the raised read error, not an assumption). The oracle pins the "
    "surviving row count and the user's pre-purge footprint from the "
    "raw fold. This is the Delta deletion-compliance recipe "
    "(DELETE + VACUUM) — at 100 TB the optimize step runs only on "
    "the tombstoned buckets' partitions, not the whole table.",
)
def q_lakehouse_gdpr_purge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import json as _json
    import os

    from ..sources.lakehouse import read_table

    tdir = _lakehouse_gdpr_dir(spark, sf_dir)
    with open(os.path.join(tdir, "_UMT_GD_STATS.json")) as f:
        pre = _json.load(f)["prepurge_rows"]
    n_latest = read_table(spark, tdir).count()
    # physical-trace audit: every parquet file left under the table
    trace = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(os.path.join(tdir, "data"))
        .filter(F.col("user_id") == _GDPR_USER)
        .count()
    )
    try:
        read_table(spark, tdir, version=3).count()
        unreadable = False
    except FileNotFoundError:
        unreadable = True
    return spark.createDataFrame(
        [(n_latest, pre, trace, unreadable)],
        "n_rows_latest long, n_user_rows_prepurge long, "
        "trace_rows long, ok_history_unreadable boolean",
    )


@_register(
    "scd2_point_in_time_join",
    """
    WITH ev AS (
        SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
        FROM events
    ),
    dims AS (SELECT * FROM ev WHERE event_type != 'purchase'),
    runs AS (
        SELECT user_id, event_type, us, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w != event_type
                    THEN 1 ELSE 0 END AS is_start
        FROM dims
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    grp AS (
        SELECT user_id, event_type, us, event_id,
               SUM(is_start) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS run_id
        FROM runs
    ),
    iv AS (
        SELECT user_id, event_type AS state, run_id,
               MIN(us) AS valid_from_us
        FROM grp GROUP BY 1, 2, 3
    ),
    intervals AS (
        SELECT user_id, state, valid_from_us,
               COALESCE(lead(valid_from_us)
                            OVER (PARTITION BY user_id
                                  ORDER BY valid_from_us, run_id),
                        CAST(9223372036854775807 AS BIGINT)) AS valid_to_us
        FROM iv
    ),
    joined AS (
        SELECT intervals.state,
               CAST(p.value AS DECIMAL(18,2)) AS vd
        FROM ev p
        JOIN intervals ON p.user_id = intervals.user_id
                      AND p.us >= intervals.valid_from_us
                      AND p.us < intervals.valid_to_us
        WHERE p.event_type = 'purchase'
    ),
    tot AS (SELECT COUNT(*) AS n FROM joined)
    SELECT state,
           COUNT(*) AS n_purchases,
           ROUND(CAST(SUM(vd) AS DOUBLE), 2) AS purchase_value,
           ROUND(CAST(COUNT(*) AS DOUBLE) / tot.n, 6) AS share
    FROM joined, tot
    GROUP BY state, tot.n
    """,
    "§2.11 warehouse (point-in-time join against SCD2 intervals)",
    "The point-in-time lookup every warehouse needs over slowly "
    "changing dimensions: each purchase joins the state interval "
    "(the user's current non-purchase activity run, SCD2-shaped from "
    "the scd2_state_intervals machinery) that was VALID AT the "
    "purchase's timestamp — no state leaks forward or backward, "
    "purchases before any state are dropped by the inner join. Plan "
    "shape: the interval build rides the one user-keyed window "
    "exchange; the PIT join is a user_id equi-join with the interval "
    "containment as a residual filter, so nothing resembling an "
    "interval cross product forms — per user the interval list is "
    "activity-bounded. Values sum in exact DECIMAL. At 100 TB this "
    "is the standard dimension-snapshot join: fact and dimension "
    "co-partition on the entity key.",
)
def q_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
    )
    dims = ev.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("event_type").over(w)
    runs = dims.withColumn(
        "is_start",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
    )
    grp = runs.withColumn(
        "run_id",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = grp.groupBy("user_id", F.col("event_type").alias("state"), "run_id").agg(
        F.min("us").alias("valid_from_us")
    )
    wl = Window.partitionBy("user_id").orderBy("valid_from_us", "run_id")
    intervals = iv.select(
        "user_id",
        "state",
        "valid_from_us",
        F.coalesce(
            F.lead("valid_from_us").over(wl),
            F.lit(9223372036854775807),
        ).alias("valid_to_us"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("us").alias("p_us"),
        F.col("value").cast("decimal(18,2)").alias("vd"),
    )
    joined = p.join(
        intervals,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_us") >= F.col("valid_from_us"))
        & (F.col("p_us") < F.col("valid_to_us")),
    ).select("state", "vd")
    tot = joined.agg(F.count(F.lit(1)).alias("n"))
    return (
        joined.groupBy("state")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("vd").cast("double"), 2).alias("purchase_value"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "state",
            "n_purchases",
            "purchase_value",
            F.round(
                F.col("n_purchases").cast("double") / F.col("n"), 6
            ).alias("share"),
        )
    )


@_register(
    "replica_merkle_diff",
    _LAKEHOUSE_SQL_PREFIX + """
    ,
    h1 AS (
        SELECT user_id % 16 AS bucket,
               ('0x' || SUBSTRING(md5('mk|' || CAST(user_id AS VARCHAR)
                   || '|' || last_event_type || '|'
                   || CAST(CAST(CAST(last_value AS DECIMAL(18,2)) * 100
                           AS BIGINT) AS VARCHAR)), 1, 12))::BIGINT AS h
        FROM v1
    ),
    h3 AS (
        SELECT user_id % 16 AS bucket,
               ('0x' || SUBSTRING(md5('mk|' || CAST(user_id AS VARCHAR)
                   || '|' || last_event_type || '|'
                   || CAST(CAST(CAST(last_value AS DECIMAL(18,2)) * 100
                           AS BIGINT) AS VARCHAR)), 1, 12))::BIGINT AS h
        FROM v3
    ),
    d1 AS (SELECT bucket, COUNT(*) AS n1, SUM(h) AS dig1
           FROM h1 GROUP BY 1),
    d3 AS (SELECT bucket, COUNT(*) AS n3, SUM(h) AS dig3
           FROM h3 GROUP BY 1)
    SELECT COALESCE(d1.bucket, d3.bucket) AS bucket,
           CAST(COALESCE(n1, 0) AS BIGINT) AS n_v1,
           CAST(COALESCE(n3, 0) AS BIGINT) AS n_v3,
           CAST(COALESCE(dig1, 0) = COALESCE(dig3, 0) AS INT) AS in_sync
    FROM d1 FULL OUTER JOIN d3 ON d1.bucket = d3.bucket
    """,
    "§2.11 lakehouse ops (merkle-style anti-entropy replica diff)",
    "Which buckets of two table snapshots differ, WITHOUT a change "
    "log: every row folds into a content hash (md5 of the canonical "
    "key|state|cents string), per-bucket digests are COMMUTATIVE "
    "integer sums of those hashes (order- and partitioning-"
    "independent, exactly the anti-entropy digest a replicated store "
    "compares), and a bucket-level full outer join reports per-bucket "
    "row counts and sync status. This is how replicas reconcile when "
    "no CDF exists (the change-feed operator covers the logged case): "
    "compare 16 digests, re-ship only the differing buckets. The "
    "oracle rebuilds BOTH snapshots from first principles (the events "
    "fold) and recomputes the digests — a bookkeeping error anywhere "
    "in MERGE/time-travel surfaces as a digest mismatch. At 100 TB "
    "each side is one scan folding into |buckets| cells; the compare "
    "moves 16 rows. Deepens X-lakehouse-timetravel/X-lakehouse-cdf.",
)
def q_replica_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lakehouse import read_table

    tdir = _lakehouse_table_dir(spark, sf_dir)

    def digests(version: int, nc: str, dc: str) -> DataFrame:
        t = read_table(spark, tdir, version=version)
        canon = F.concat(
            F.lit("mk|"),
            F.col("user_id").cast("string"),
            F.lit("|"),
            F.col("last_event_type"),
            F.lit("|"),
            (F.col("last_value").cast("decimal(18,2)") * 100)
            .cast("long")
            .cast("string"),
        )
        h = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long")
        return (
            t.select((F.col("user_id") % 16).alias("bucket"), h.alias("h"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(nc), F.sum("h").alias(dc))
        )

    d1 = digests(1, "n1", "dig1")
    d3 = digests(3, "n3", "dig3")
    j = d1.join(d3, "bucket", "full")
    return j.select(
        "bucket",
        F.coalesce(F.col("n1"), F.lit(0)).cast("long").alias("n_v1"),
        F.coalesce(F.col("n3"), F.lit(0)).cast("long").alias("n_v3"),
        (
            F.coalesce(F.col("dig1"), F.lit(0))
            == F.coalesce(F.col("dig3"), F.lit(0))
        )
        .cast("int")
        .alias("in_sync"),
    )
