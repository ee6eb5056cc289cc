"""Training-data curation queries (admission, packing, splits, mixtures, contamination, profiling).

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
    STOPWORDS,
    SparkSession,
    TS,
    Window,
    _dec,
    _register,
    _spread,
    _t,
    ordered_dense_rank,
    sql_simple_tokens,
    sql_stopword_list,
    sql_tokens_pipeline,
)




@_register(
    "gopher_admission",
    f"""
    WITH d AS (
        SELECT doc_id, source, {sql_simple_tokens('text')} AS toks, text
        FROM documents
    ),
    r AS (
        SELECT source,
            len(toks) BETWEEN 30 AND 100000 AS ok_words,
            CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE) / len(toks)
            END BETWEEN 3 AND 10 AS ok_meanlen,
            len(list_filter(toks, x -> x IN {{sw}})) >= 2 AS ok_stopwords,
            CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(length(text) - length(regexp_replace(text, '[\\p{{P}}\\p{{S}}]', '', 'g')) AS DOUBLE) / length(text)
            END <= 0.1 AS ok_punct,
            CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$'))) AS DOUBLE) / len(toks)
            END >= 0.8 AS ok_alpha,
            CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE CAST(list_max(list_transform(list_distinct(toks), u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE) / len(toks)
            END <= 0.1 AS ok_repetition
        FROM d
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(ok_words AND ok_meanlen AND ok_stopwords
                         AND ok_punct AND ok_alpha AND ok_repetition AS INT)) AS BIGINT) AS n_admitted,
           ROUND(CAST(SUM(CAST(ok_words AND ok_meanlen AND ok_stopwords
                         AND ok_punct AND ok_alpha AND ok_repetition AS INT)) AS DOUBLE) / COUNT(*), 6) AS admission_rate,
           CAST(SUM(CAST(NOT ok_words AS INT)) AS BIGINT) AS n_fail_words,
           CAST(SUM(CAST(NOT ok_meanlen AS INT)) AS BIGINT) AS n_fail_meanlen,
           CAST(SUM(CAST(NOT ok_stopwords AS INT)) AS BIGINT) AS n_fail_stopwords,
           CAST(SUM(CAST(NOT ok_punct AS INT)) AS BIGINT) AS n_fail_punct,
           CAST(SUM(CAST(NOT ok_alpha AS INT)) AS BIGINT) AS n_fail_alpha,
           CAST(SUM(CAST(NOT ok_repetition AS INT)) AS BIGINT) AS n_fail_repetition
    FROM r GROUP BY source
    """.replace("{sw}", sql_stopword_list(STOPWORDS)),
    "§2.11 text analysis (composite Gopher/C4 admission filter)",
    "The standard pre-training admission battery (Gopher, Rae et al. "
    "2021 Table A1; C4, Raffel et al. 2020) as ONE map-only pass: "
    "word-count bounds, mean-word-length window [3,10], minimum "
    "stop-word evidence, symbol/punctuation ratio cap, alphabetic-word "
    "fraction floor, and a top-token repetition cap — per-source "
    "admitted counts, admission rate, and per-rule failure tallies "
    "(the triage report a curation run starts from). Bounds are the "
    "published rules scaled to this corpus's short synthetic docs "
    "(30-word floor vs Gopher's 50; 0.1 top-token cap). Every signal "
    "is a codegen'd HOF over the token array — the repetition scan is "
    "O(distinct × words) per doc, bounded by document length, so the "
    "whole filter is scan-throughput-bound at 100 TB and the only "
    "shuffle is the tiny per-source rollup. Oracle recomputes every "
    "rule in DuckDB list kernels; integer-ratio doubles divide "
    "identically on both engines.",
)
def q_gopher_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    # materialize the token array ONCE in its own projection: the six
    # rule expressions all consume it, and higher-order functions block
    # common-subexpression elimination — inlining tokenize() per rule
    # re-ran the cleaning regex + split 6× per row (measured ~3× the
    # whole-query cost at sf0.1)
    with_toks = docs.select("source", "text", tokenize(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    mean_len = F.when(n == 0, F.lit(0.0)).otherwise(
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / n
    )
    sw_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    alpha_frac = F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))).cast("double") / n
    )
    # top-token count via sorted-run scan: O(n log n) per doc instead of
    # the O(distinct × n) nested filter (same value — the mode count is
    # algorithm-independent, so the oracle's list-kernel version agrees)
    run_scan = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a.prev, a.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                a.best, F.when(x == a.prev, a.run + 1).otherwise(F.lit(1))
            ).alias("best"),
        ),
        lambda a: a.best,
    )
    top_frac = F.when(n == 0, F.lit(0.0)).otherwise(run_scan.cast("double") / n)
    flags = with_toks.select(
        "source",
        n.between(30, 100000).alias("ok_words"),
        mean_len.between(3, 10).alias("ok_meanlen"),
        (sw_hits >= 2).alias("ok_stopwords"),
        (TS.punct_ratio(F.col("text")) <= 0.1).alias("ok_punct"),
        (alpha_frac >= 0.8).alias("ok_alpha"),
        (top_frac <= 0.1).alias("ok_repetition"),
    )
    admitted = (
        F.col("ok_words") & F.col("ok_meanlen") & F.col("ok_stopwords")
        & F.col("ok_punct") & F.col("ok_alpha") & F.col("ok_repetition")
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(admitted.cast("int")).cast("long").alias("n_admitted"),
        F.round(
            F.sum(admitted.cast("int")).cast("double") / F.count(F.lit(1)), 6
        ).alias("admission_rate"),
        F.sum((~F.col("ok_words")).cast("int")).cast("long").alias("n_fail_words"),
        F.sum((~F.col("ok_meanlen")).cast("int")).cast("long").alias("n_fail_meanlen"),
        F.sum((~F.col("ok_stopwords")).cast("int")).cast("long").alias("n_fail_stopwords"),
        F.sum((~F.col("ok_punct")).cast("int")).cast("long").alias("n_fail_punct"),
        F.sum((~F.col("ok_alpha")).cast("int")).cast("long").alias("n_fail_alpha"),
        F.sum((~F.col("ok_repetition")).cast("int")).cast("long").alias("n_fail_repetition"),
    )


# =========================================================================
# Batch 6: training-data pipeline ops — sequence packing, split
# manifests, embedding quantization
# =========================================================================


@_register(
    "document_packing",
    """
    WITH toks AS (
        SELECT doc_id, CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        FROM documents
    ),
    ordered AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM toks
    )
    SELECT CAST(floor((cum - 1) / 2048) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM ordered GROUP BY 1
    """,
    "§2.11 training-data ops (sequence packing)",
    "Pack short documents into ~2048-token training sequences: "
    "cumulative token count over a deterministic order, pack = "
    "floor(cum/target) — the distributed-friendly packing variant "
    "(greedy first-fit needs sequential state; floor-cumsum has the "
    "same fill factor on shuffled data). The prefix sum is TWO-PHASE: "
    "a partition-parallel within-bucket window (bucket = doc_id range) "
    "plus a bucket-prefix offset joined broadcast — identical result "
    "to a global-order window with no single-partition sort, so the "
    "plan survives a fact-sized input. Whitespace token count = the "
    "tokenizer-free estimator both engines share.",
)
def q_document_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_tokens = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
    ).cast("long")
    toks = docs.select("doc_id", n_tokens.alias("n_tokens"))
    # phase 1: bucket by doc_id range (dense ids → ~n_buckets even
    # slices), cumsum within each bucket in parallel
    n_buckets = 32
    max_id = toks.agg(F.max("doc_id")).first()[0] or 0
    span = max(1, (int(max_id) // n_buckets) + 1)
    bucketed = toks.withColumn("__b", (F.col("doc_id") / span).cast("long"))
    wb = (
        Window.partitionBy("__b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = bucketed.withColumn("local_cum", F.sum("n_tokens").over(wb))
    # phase 2: bucket totals (≤ n_buckets rows) → exclusive prefix
    # offsets, folded on the driver and broadcast back (the
    # `_dense_index` pattern from ml/resample). A tiny unpartitioned
    # window would compute the same thing but logs
    # `WindowExec: No Partition Defined` on every run — warning noise
    # that can mask a REAL global-window regression. Exact longs both
    # ways; the recompute of `bucketed` for the counts job is
    # deterministic (no sampling in its lineage).
    totals = {
        r["__b"]: r["t"]
        for r in bucketed.groupBy("__b")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    }
    acc = 0
    off_rows = []
    for b in sorted(totals):
        off_rows.append((b, acc))
        acc += int(totals[b])
    offsets = docs.sparkSession.createDataFrame(
        off_rows or [(0, 0)], "__b long, off long"
    )
    ordered = local.join(F.broadcast(offsets), "__b").withColumn(
        "cum", F.col("local_cum") + F.col("off")
    )
    return (
        ordered.select(
            F.floor((F.col("cum") - 1) / 2048).cast("long").alias("pack_id"),
            "n_tokens",
        )
        .groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
        )
    )


@_register(
    "dataset_split_manifest",
    """
    WITH assigned AS (
        SELECT doc_id,
               CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS h
              FROM documents)
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM assigned GROUP BY split
    """,
    "§2.11 training-data ops (deterministic split manifest)",
    "80/10/10 train/val/test assignment from a content-stable hash — "
    "a pure map (zero shuffles for the assignment itself), reproducible "
    "across runs/engines, no rand() in the plan (M17/M18 generalized "
    "to manifest form).",
)
def q_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    assigned = docs.select(
        "doc_id",
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test").alias("split"),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


@_register(
    "training_order_shuffle",
    """
    WITH r AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY md5('shuf42_' || CAST(doc_id AS VARCHAR))
               ) AS epoch_pos
        FROM documents
    )
    SELECT doc_id, CAST(epoch_pos AS BIGINT) AS epoch_pos,
           CAST((epoch_pos - 1) % 8 AS BIGINT) AS shard
    FROM r
    """,
    "§2.11 training-data ops (deterministic global shuffle + sharding)",
    "Reproducible training order: every document gets a content-stable "
    "shuffle key md5(seed, doc_id), the global rank of that key is its "
    "epoch position, and positions round-robin into 8 output shards so "
    "each shard is a stratified sample of the shuffled order (what a "
    "multi-worker data loader needs). The global rank comes from "
    "operators.indexing.ordered_dense_rank — range-repartition on the "
    "key, rank within each range partition, broadcast cumulative "
    "offsets — NOT a single-partition ORDER BY window, so the shuffle "
    "order is computed at full cluster parallelism and is bit-equal to "
    "the oracle's ROW_NUMBER() OVER (ORDER BY md5(...)). No rand() "
    "anywhere: re-running the manifest on the same corpus and seed "
    "reproduces the identical order on any engine.",
)
def q_training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.concat(F.lit("shuf42_"), F.col("doc_id").cast("string"))
        ).alias("__k"),
    )
    ranked = ordered_dense_rank(docs, "__k", rank_col="epoch_pos")
    return ranked.select(
        "doc_id",
        F.col("epoch_pos").cast("long").alias("epoch_pos"),
        ((F.col("epoch_pos") - 1) % 8).cast("long").alias("shard"),
    )


# =========================================================================
# Batch 7: LLM-pipeline curation ops — contamination, repetition,
# canonical dedup output, incremental snapshot dedup
# =========================================================================

_SQL_8GRAMS = (
    f"list_transform(range(1, len({sql_simple_tokens('text')}) - 6), "
    f"i -> array_to_string(list_slice({sql_simple_tokens('text')}, i, i + 7), ' '))"
)


@_register(
    "benchmark_contamination",
    f"""
    WITH sh AS (
        SELECT doc_id, doc_id % 97 = 0 AS is_eval,
               unnest({_SQL_8GRAMS}) AS sh
        FROM documents
    ),
    eval_sh AS (SELECT DISTINCT doc_id, sh FROM sh WHERE is_eval),
    corpus_sh AS (SELECT DISTINCT sh FROM sh WHERE NOT is_eval)
    SELECT e.doc_id,
           COUNT(*) AS n_shingles,
           CAST(COUNT(c.sh) AS BIGINT) AS n_contaminated,
           ROUND(CAST(COUNT(c.sh) AS DOUBLE) / COUNT(*), 6) AS contamination_ratio
    FROM eval_sh e LEFT JOIN corpus_sh c USING (sh)
    GROUP BY e.doc_id
    """,
    "§2.11 curation (benchmark-contamination check, 8-gram overlap)",
    "Train/eval contamination audit: the held-out eval slice "
    "(doc_id % 97 = 0) is checked for 8-gram (token shingle) overlap "
    "against the training corpus — the decontamination step every "
    "LLM data pipeline runs before training. Distinct-shingle "
    "equi-join; at 100 TB the join key becomes xxhash64(shingle) "
    "(64-bit, shuffle-compact) and the eval side — always the small "
    "side — broadcasts; the corpus side stays partitioned, never "
    "collected.",
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    # materialize tokens as a column FIRST: referencing the tokenize
    # expression inside the transform lambda would re-run the Unicode
    # regex once per generated shingle (~50× per row)
    toks = docs.select(
        "doc_id", (F.col("doc_id") % 97 == 0).alias("is_eval"),
        tokenize(F.col("text")).alias("t"),
    )
    t = F.col("t")
    shingles = F.when(
        F.size(t) >= 8,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 8),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, 8)),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    sh = toks.select("doc_id", "is_eval", F.explode(shingles).alias("sh"))
    eval_sh = sh.filter("is_eval").select("doc_id", "sh").distinct()
    corpus_sh = sh.filter(~F.col("is_eval")).select("sh").distinct()
    return (
        eval_sh.join(corpus_sh.withColumn("hit", F.lit(1)), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").cast("long").alias("n_contaminated"),
            F.round(
                F.count("hit").cast("double") / F.count(F.lit(1)), 6
            ).alias("contamination_ratio"),
        )
    )


_SQL_BIGRAMS = (
    f"list_transform(range(1, len({sql_simple_tokens('text')})), "
    f"i -> array_to_string(list_slice({sql_simple_tokens('text')}, i, i + 1), ' '))"
)


@_register(
    "repetition_quality",
    f"""
    WITH bg AS (
        SELECT doc_id, unnest({_SQL_BIGRAMS}) AS bigram FROM documents
    ),
    counts AS (
        SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(MAX(c) AS BIGINT) AS top_bigram_n,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS rep_ratio,
           CAST(CASE WHEN CAST(MAX(c) AS DOUBLE) / SUM(c) > 0.2
                     THEN 1 ELSE 0 END AS INT) AS is_repetitive
    FROM counts GROUP BY doc_id
    """,
    "§2.11 curation (repetition-based quality filter)",
    "Gopher-style repetition signal: fraction of a document's 2-grams "
    "taken by its single most-frequent 2-gram; docs above 0.2 are "
    "flagged (boilerplate / degenerate repetition). Explode + two-level "
    "aggregate — fully distributed, map-side partial aggregation on "
    "(doc, bigram), no UDF.",
)
def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    # tokens as a named column — see q_benchmark_contamination: lambda
    # capture of the raw expression re-evaluates the regex per element
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    t = F.col("t")
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, 2)),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    counts = (
        toks.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ratio = F.max("c").cast("double") / F.sum("c")
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.max("c").cast("long").alias("top_bigram_n"),
        F.round(ratio, 6).alias("rep_ratio"),
        F.when(ratio > 0.2, 1).otherwise(0).cast("int").alias("is_repetitive"),
    )


@_register(
    "quality_perplexity",
    f"""
    WITH bgi AS (
        SELECT doc_id, unnest({_SQL_BIGRAMS}) AS bgram FROM documents
    ),
    bc AS (SELECT bgram, COUNT(*) AS c2 FROM bgi GROUP BY bgram),
    uni AS (
        SELECT tok, COUNT(*) AS c1
        FROM (SELECT unnest({sql_simple_tokens('text')}) AS tok FROM documents)
        GROUP BY tok
    ),
    v AS (SELECT COUNT(*) AS vsize FROM uni),
    agg AS (
        SELECT doc_id,
               COUNT(*) AS n_bigrams,
               exp(-(CAST(SUM(CAST(ROUND(ln((c2 + 1.0) / (c1 + vsize)), 9)
                                   AS DECIMAL(18,9)) ) AS DOUBLE)
                     / COUNT(*))) AS raw_ppl
        FROM bgi JOIN bc USING (bgram)
        JOIN uni ON str_split(bgi.bgram, ' ')[1] = uni.tok
        CROSS JOIN v
        GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           ROUND(raw_ppl, 4) AS ppl,
           CAST(CASE WHEN raw_ppl > 32.0 THEN 1 ELSE 0 END AS INT)
               AS is_low_quality
    FROM agg
    """,
    "§2.11 curation (LM-perplexity quality filter, CCNet-style)",
    "Statistical-LM quality scoring — the CCNet/Gopher curation signal: "
    "train an add-1-smoothed bigram model ON the corpus itself (token "
    "and bigram count aggregates, nothing learned), score every "
    "document by the perplexity of its own bigrams, flag the "
    "high-perplexity tail (> 32, ≈ p90 on this corpus) as low-quality. "
    "Pure DataFrame plan: two count aggregates + an equi-join of the "
    "per-doc bigram instances against the (vocab-bounded, "
    "broadcastable) count tables — at 100 TB the counts come from one "
    "map-side-combined pass and the scoring join shuffles on the "
    "bigram key only. Determinism: each per-bigram log term is rounded "
    "to 9 decimals and summed as DECIMAL(18,9) — an ORDER-INDEPENDENT "
    "exact sum (float AVG accumulated partition-order-dependently, the "
    "same flake class as the r3 user_value_trend miss) — then one "
    "float division + exp at the end; the 1e-9 term quantization "
    "perturbs ppl by ~1e-8, far inside the 4-decimal round.",
)
def q_quality_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    # settle the tokenize pass ONCE, spread across cores: the plan
    # consumes `toks` three times (bigram instances, bigram counts,
    # unigram counts) and the one-file scan would run the per-doc
    # tokenize single-core per consumer. Every downstream aggregate is
    # an exact count / DECIMAL sum, so partitioning cannot move values
    # (r13 guide §1.2/§2.5/§5; same discipline as dsir_selection).
    toks = (
        _spread(docs.select("doc_id", tokenize(F.col("text")).alias("t")))
        .localCheckpoint(eager=True)
    )
    t = F.col("t")
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, 2)),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    bgi = toks.select("doc_id", F.explode(bigrams).alias("bgram"))
    bc = bgi.groupBy("bgram").agg(F.count(F.lit(1)).alias("c2"))
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vsize = F.broadcast(uni.agg(F.count(F.lit(1)).alias("vsize")))
    # 9-decimal-quantized log terms summed as DECIMAL → the per-doc
    # aggregate is exact and order-independent under any partitioning
    logp9 = F.round(
        F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("vsize"))), 9
    ).cast("decimal(18,9)")
    scored = (
        bgi.join(bc, "bgram")
        .withColumn("tok", F.split(F.col("bgram"), " ").getItem(0))
        .join(F.broadcast(uni), "tok")
        .crossJoin(vsize)
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.exp(
            -(F.sum(logp9).cast("double") / F.count(F.lit(1)))
        ).alias("raw_ppl"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        F.round("raw_ppl", 4).alias("ppl"),
        F.when(F.col("raw_ppl") > 32.0, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_low_quality"),
    )


@_register(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, m) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT eg.v, r.m FROM reach r JOIN edges eg ON eg.u = r.node
    ),
    cc AS (SELECT node, MIN(m) AS cluster FROM reach GROUP BY node),
    members AS (
        SELECT emb.vec_id,
               CAST(COALESCE(cc.cluster, emb.vec_id) AS BIGINT) AS cluster_id
        FROM (SELECT vec_id FROM embeddings WHERE vec_id < 300) emb
        LEFT JOIN cc ON cc.node = emb.vec_id
    ),
    assigned AS (
        SELECT vec_id, cluster_id,
               CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT vec_id, cluster_id,
                   ('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS h
            FROM members
        )
    ),
    cross_cnt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs p
        JOIN assigned sa ON sa.vec_id = p.id_a
        JOIN assigned sb ON sb.vec_id = p.id_b
        WHERE sa.split <> sb.split
    )
    SELECT split,
           COUNT(*) AS n_vecs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           (SELECT n FROM cross_cnt) AS cross_split_pairs
    FROM assigned GROUP BY split
    """,
    "§2.11 training prep (dedup-cluster-aware leakage-safe split)",
    "Train/val/test assignment that CANNOT leak near-duplicates across "
    "splits: the split hash is taken over the near-dup CLUSTER id "
    "(connected components of the cosine graph), not the row id, so "
    "every member of a duplicate cluster lands in the same split by "
    "construction — the standard fix for the contaminated-eval failure "
    "where a test document's near-copy sits in train (cf. the "
    "train/test overlap audits in GPT-2/C4 and the SemDeDup line of "
    "work). Output is the per-split manifest (rows, distinct clusters) "
    "plus the cross-split near-dup pair count, which the oracle proves "
    "is ZERO — the invariant itself is part of the hashed result. The "
    "8/1/1 assignment reuses the engine-portable md5 fold hash "
    "(ml.classify.add_hash_fold), so splits are reproducible across "
    "engines and runs; at 100 TB the only additions over the dedup "
    "manifest are a map-side hash and a pair-vs-assignment join that "
    "shuffles (id, split) pairs.",
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.shared import shared_neardup_components, shared_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    cc = shared_neardup_components(spark, sf_dir)
    members = (
        emb.select("vec_id")
        .join(cc, emb.vec_id == cc.node, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("cluster"), F.col("vec_id"))
            .cast("long")
            .alias("cluster_id"),
        )
    )
    h = (
        F.conv(F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 10
    )
    assigned = members.withColumn(
        "split",
        F.when(h < 8, "train").when(h == 8, "val").otherwise("test"),
    ).cache()
    pairs = shared_neardup_pairs(spark, sf_dir)
    sa = assigned.select(F.col("vec_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = assigned.select(F.col("vec_id").alias("id_b"), F.col("split").alias("split_b"))
    cross = (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()  # driver scalar: the leakage invariant (must be 0)
    )
    # release the cache now that the eager cross-split count consumed
    # it (repeated invocations — suite + driver + bench — must not
    # accumulate pinned frames); the returned 3-row aggregate simply
    # recomputes the assignment lineage once when collected, keeping
    # the lazy plan inspectable (join shape / pushdown plan test)
    assigned.unpersist()
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.lit(cross).cast("long").alias("cross_split_pairs"),
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@_register(
    "column_profile",
    " UNION ALL ".join(
        f"""
    SELECT '{c}' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           ROUND(MIN({c}), 2) AS min_val,
           ROUND(MAX({c}), 2) AS max_val,
           ROUND(CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_val
    FROM lineitem
    """
        for c in _PROFILE_COLS
    ),
    "§2.11 data profiling (one-pass multi-column dataset statistics)",
    "Training-data profiling: row count, null count, EXACT distinct "
    "count, min/max, and exact-decimal sum for every numeric lineitem "
    "measure, computed in ONE aggregate over one scan (the wide 1-row "
    "aggregate is exploded into a per-column report). The multiple "
    "COUNT(DISTINCT) expressions plan as Spark's Expand-based "
    "multi-distinct aggregate — still a single pass with partial "
    "aggregation, data duplicated once per distinct column, which is "
    "the exact-profile cost at any scale; approx_distinct_sketch is "
    "the registered HLL alternative when 4× expansion is too much at "
    "100 TB. The DuckDB oracle re-states it as per-column aggregates.",
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 (guide §1.2/§2.3): the old single wide aggregate carried FOUR
    # COUNT(DISTINCT) expressions, which Catalyst plans as an
    # Expand-based multi-distinct — every lineitem row duplicated 5×
    # (once per distinct column + once for the plain stats) through the
    # hash aggregate; measured 3.8-4.3 s of pure aggregate CPU at sf0.1.
    # Restated as a UNION of per-column single-distinct aggregates: no
    # Expand anywhere, each branch scans ONLY its own parquet column
    # (pruned), and AQE materializes the four independent shuffle
    # stages concurrently. Identical expressions per column → identical
    # values; the oracle is already stated per-column.
    li = _t(spark, sf_dir, "lineitem")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            li.select(F.col(c)).agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
                F.count_distinct(F.col(c)).alias("n_distinct"),
                F.round(F.min(c), 2).alias("min_val"),
                F.round(F.max(c), 2).alias("max_val"),
                F.round(F.sum(_dec(c)).cast("double"), 2).alias("sum_val"),
            ).select(
                F.lit(c).alias("column_name"),
                "n_rows", "n_null", "n_distinct",
                "min_val", "max_val", "sum_val",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@_register(
    "decile_bucketing",
    """
    WITH ranked AS (
        SELECT l_extendedprice,
               NTILE(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                               l_linenumber) AS bucket
        FROM lineitem
    )
    SELECT bucket,
           COUNT(*) AS n_rows,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_price
    FROM ranked GROUP BY bucket
    """,
    "§2.11 feature engineering (exact global equi-depth bucketing)",
    "Exact NTILE(10) equi-depth price deciles WITHOUT a single-"
    "partition global window: rows get a global rank from the "
    "two-phase range-partitioned ordered_dense_rank (repartitionByRange "
    "on the unique (price, orderkey, linenumber) struct, per-partition "
    "row_number + broadcast partition offsets — the "
    "training_order_shuffle machinery), and the rank is mapped to "
    "NTILE's exact bucket boundaries in integer arithmetic: with "
    "q = n div k, r = n mod k, the first r buckets take q+1 rows. "
    "Bit-identical to the oracle's NTILE window (formula verified for "
    "n mod k != 0), scales as a range shuffle + tiny rollup instead of "
    "one executor sorting the world. The scale knob is n_parts on the "
    "range partitioning; the only driver state is 32 partition counts "
    "and the scalar n.",
)
def q_decile_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indexing import ordered_dense_rank

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    # r14 (guide §2.3): rank ONLY the order struct — the three flat
    # columns duplicated every struct field through the range exchange
    # and its checkpoint (~2x the bytes of the fact-table shuffle);
    # the price is recovered from the struct after ranking. The key
    # values — and therefore range boundaries, partition layout and
    # ranks — are unchanged, and every downstream aggregate is exact
    # (count/min/max/DECIMAL sum), so the output is identical.
    keyed = li.select(
        F.struct("l_extendedprice", "l_orderkey", "l_linenumber").alias(
            "__ord"
        )
    )
    # local_ok=False: this ranks the LINEITEM fact table — corpus-sized
    # at every scale, so the local dispatch never applies and its size
    # probe would only add a full-table materialization (r13 A/B:
    # +0.2-0.3 s at sf0.1 for zero benefit)
    ranked = ordered_dense_rank(keyed, "__ord", rank_col="rank",
                                local_ok=False).select(
        F.col("__ord.l_extendedprice").alias("l_extendedprice"), "rank"
    )
    k = 10
    n = ranked.count()  # scalar over the checkpointed frame
    q, r = divmod(n, k)
    # integer `div`, never floor(double/double): at extreme n a float
    # quotient one ulp below an integer would floor into the wrong
    # bucket; long division is exact at any rank
    bucket = (
        F.when(
            F.col("rank") <= r * (q + 1),
            F.expr(f"(rank - 1) div {q + 1}") + 1,
        )
        .otherwise(r + F.expr(f"(rank - 1 - {r * (q + 1)}) div {q}") + 1)
        .cast("long")
    )
    return (
        ranked.select(bucket.alias("bucket"), "l_extendedprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double"), 2).alias(
                "sum_price"
            ),
        )
    )


@_register(
    "mixture_temperature_weights",
    """
    WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    t AS (SELECT SUM(n) AS total, SUM(POW(n, 0.5)) AS z FROM c)
    SELECT c.source,
           c.n AS n_docs,
           ROUND(c.n / t.total, 6) AS natural_share,
           ROUND(POW(c.n, 0.5) / t.z, 6) AS temp_share,
           ROUND((POW(c.n, 0.5) / t.z) / (c.n / t.total), 6)
               AS upsample_factor
    FROM c CROSS JOIN t
    """,
    "§2.11 curation (temperature-scaled domain mixture)",
    "Temperature-scaled mixture weights — the multilingual/multi-domain "
    "rebalancing rule (w_i ∝ n_i^α, here α=0.5): small domains are "
    "upsampled, dominant ones damped, per-domain upsample factor "
    "reported so a sampler can consume it directly. One count "
    "aggregate + a 1-row total (broadcast) — closed-form and "
    "hash-exact on both engines; the md5-draw sampler "
    "(mixture_sampling_manifest) is the executable twin.",
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(
        F.sum("n").alias("total"), F.sum(F.pow("n", 0.5)).alias("z")
    )
    nat = F.col("n") / F.col("total")
    tmp = F.pow("n", 0.5) / F.col("z")
    return c.crossJoin(F.broadcast(t)).select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(nat, 6).alias("natural_share"),
        F.round(tmp, 6).alias("temp_share"),
        F.round(tmp / nat, 6).alias("upsample_factor"),
    )


@_register(
    "mixture_sampling_manifest",
    """
    WITH w AS (
        SELECT source,
               ROUND(0.25 + 0.5 * (('0x' || substring(md5(source), 1, 4))::INT / 65535.0), 6) AS weight
        FROM (SELECT DISTINCT source FROM documents)
    ),
    u AS (
        SELECT doc_id, source,
               ('0x' || substring(md5('mix/' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS u
        FROM documents
    )
    SELECT u.source,
           w.weight,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN u.u < w.weight THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           ROUND(CAST(SUM(CASE WHEN u.u < w.weight THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS sample_rate
    FROM u JOIN w USING (source)
    GROUP BY u.source, w.weight
    """,
    "§2.11 training-data ops (mixture-sampling manifest)",
    "Data-mixing step of an LLM training pipeline: each source gets a "
    "deterministic mixture weight, each document a content-stable "
    "uniform draw (md5 of a salted id — NO rand(), so the sample is "
    "reproducible across runs/engines and survives re-partitioning), "
    "and the manifest reports realized sampling rates per source. Pure "
    "map + one aggregation; the weight table is dimension-sized and "
    "broadcast.",
)
def q_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    weight = F.round(
        0.25
        + 0.5
        * (
            F.conv(F.substring(F.md5(F.col("source")), 1, 4), 16, 10).cast("double")
            / 65535.0
        ),
        6,
    )
    weights = docs.select("source").distinct().select("source", weight.alias("weight"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix/"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    draws = docs.select("doc_id", "source", u.alias("u"))
    sampled = (F.col("u") < F.col("weight")).cast("int")
    return (
        draws.join(F.broadcast(weights), "source")
        .groupBy("source", "weight")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(sampled).cast("long").alias("n_sampled"),
            F.round(F.sum(sampled).cast("double") / F.count(F.lit(1)), 6).alias(
                "sample_rate"
            ),
        )
    )


# Deterministic PII fixture: the synthetic documents carry no PII, so a
# per-row block (email always; phone when doc_id%3=0; IP when doc_id%5=0)
# is appended identically by both engines — redaction then observably
# fires with varied per-row counts, and the md5 of the redacted text is
# hash-exact.
_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE_RE = r"\b[0-9]{3}-[0-9]{4}\b"
_PII_IP_RE = r"\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b"

_SQL_PII_AUG = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@mail.example.com' || "
    "CASE WHEN doc_id % 3 = 0 THEN ' call 555-01' || "
    "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN ' ip 10.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END"
)


@_register(
    "pii_redaction",
    f"""
    WITH aug AS (SELECT doc_id, {_SQL_PII_AUG} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL_RE}')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE_RE}')) AS INT)
               AS n_phones,
           CAST(len(regexp_extract_all(t, '{_PII_IP_RE}')) AS INT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PII_IP_RE}', '<IP>', 'g'),
               '{_PII_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
    "§2.11 curation (PII detection + redaction)",
    "PII scrub — the redaction pass every LLM corpus runs before "
    "training: detect emails / phone numbers / IPv4 addresses by regex, "
    "count them per document, and replace them with typed placeholders "
    "(md5 of the redacted text keeps the rewrite hash-checkable). Pure "
    "JVM regex Column expressions inside whole-stage codegen — a "
    "map-only scan with zero shuffle, so at 100 TB it runs at parquet "
    "read speed and writes back partition-local. The synthetic corpus "
    "has no PII, so a deterministic doc_id-derived block is appended "
    "first (same expression on both engines) to make redaction "
    "observable.",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@mail.example.com"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" call 555-01"),
                F.lpad((did % 100).cast("string"), 2, "0"),
            ),
        ).otherwise(""),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" ip 10."), (did % 256).cast("string"), F.lit(".0.1")
            ),
        ).otherwise(""),
    )
    t = docs.select("doc_id", aug.alias("t"))

    def n_matches(pat: str) -> F.Column:
        return F.size(
            F.regexp_extract_all(F.col("t"), F.lit(pat), F.lit(0))
        ).cast("int")

    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL_RE, "<EMAIL>"),
            _PII_IP_RE,
            "<IP>",
        ),
        _PII_PHONE_RE,
        "<PHONE>",
    )
    return t.select(
        "doc_id",
        n_matches(_PII_EMAIL_RE).alias("n_emails"),
        n_matches(_PII_PHONE_RE).alias("n_phones"),
        n_matches(_PII_IP_RE).alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


_CHUNK_SIZE = 16
_CHUNK_STRIDE = 12


@_register(
    "document_chunking",
    f"""
    WITH tk AS (
        SELECT doc_id, {sql_simple_tokens('text')} AS t FROM documents
    ),
    st AS (
        SELECT doc_id, t,
               unnest(range(1, len(t) + 1, {_CHUNK_STRIDE})) AS start
        FROM tk WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST((start - 1) // {_CHUNK_STRIDE} AS INT) AS chunk_id,
           CAST(len(list_slice(t, start,
                least(start + {_CHUNK_SIZE - 1}, len(t)))) AS INT)
               AS chunk_tokens,
           md5(array_to_string(list_slice(t, start,
                least(start + {_CHUNK_SIZE - 1}, len(t))), ' '))
               AS chunk_md5
    FROM st
    """,
    "§2.11 training prep (overlapping sequence chunking)",
    f"Sliding-window document chunking for training-sequence prep: "
    f"each doc's token list is cut into chunks of {_CHUNK_SIZE} tokens "
    f"at stride {_CHUNK_STRIDE} (overlap {_CHUNK_SIZE - _CHUNK_STRIDE} "
    f"preserves cross-boundary context), with per-chunk token count and "
    f"an md5 chunk key for downstream chunk-level dedup. "
    f"sequence()+explode generates chunk starts row-locally — a map-only "
    f"plan with no shuffle; at 100 TB the ~{_CHUNK_SIZE}/"
    f"{_CHUNK_STRIDE}x row fan-out stays partition-local and streams "
    f"straight to a partitioned manifest write.",
)
def q_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    st = toks.filter(F.size("t") > 0).select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(1), F.size("t"), F.lit(_CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("t"), F.col("start"), _CHUNK_SIZE)
    return st.select(
        "doc_id",
        F.floor((F.col("start") - 1) / _CHUNK_STRIDE).cast("int").alias(
            "chunk_id"
        ),
        F.size(chunk).cast("int").alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


@_register(
    "dsir_selection",
    f"""
    WITH inst AS (
        SELECT doc_id, lang,
               ('0x' || substring(md5(tok), 1, 8))::BIGINT % 256 AS bucket
        FROM (SELECT doc_id, lang, unnest({sql_simple_tokens('text')}) AS tok
              FROM documents)
    ),
    qc AS (SELECT bucket, COUNT(*) AS cq FROM inst GROUP BY bucket),
    tc AS (SELECT bucket, COUNT(*) AS ct FROM inst WHERE lang = 'en'
           GROUP BY bucket),
    tot AS (
        SELECT COUNT(*) AS tq,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tt
        FROM inst
    ),
    ratio AS (
        SELECT qc.bucket,
               CAST(ROUND(ln(((COALESCE(tc.ct, 0) + 1.0) * (tot.tq + 256.0))
                            / ((qc.cq + 1.0) * (tot.tt + 256.0))), 9)
                    AS DECIMAL(18,9)) AS lr9
        FROM qc LEFT JOIN tc USING (bucket) CROSS JOIN tot
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(ROUND(CAST(SUM(lr9) AS DOUBLE), 6) AS DECIMAL(18,6)) AS logw6
        FROM inst JOIN ratio USING (bucket)
        GROUP BY doc_id
    ),
    scored AS (
        SELECT d.doc_id,
               COALESCE(p.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
               COALESCE(p.logw6, CAST(0 AS DECIMAL(18,6))) AS logw6,
               CAST(ROUND(-ln(-ln(
                   (('0x' || substring(md5('dsir/' || CAST(d.doc_id AS VARCHAR)),
                              1, 8))::BIGINT + 0.5) / 4294967296.0)), 9)
                    AS DECIMAL(18,9)) AS g9
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ),
    ranked AS (
        SELECT doc_id, n_tokens, logw6,
               row_number() OVER (ORDER BY logw6 + g9 DESC, doc_id) AS sel_rank,
               COUNT(*) OVER () AS n_docs
        FROM scored
    )
    SELECT doc_id, n_tokens,
           ROUND(CAST(logw6 AS DOUBLE), 6) + 0 AS log_weight,
           sel_rank,
           CAST(CASE WHEN sel_rank <= (n_docs + 4) // 5 THEN 1 ELSE 0 END AS INT)
               AS is_selected
    FROM ranked
    """,
    "§2.11 training-data ops (DSIR importance resampling)",
    "Data Selection via Importance Resampling (Xie et al. 2023): score "
    "every raw document by the log importance weight between a TARGET "
    "feature distribution (here the lang='en' slice, standing in for "
    "the paper's Wiki/books formal-text target) and the RAW corpus "
    "distribution, both as add-1-smoothed multinomials over 256 hashed "
    "unigram buckets (md5-derived — the engine-portable hash; the "
    "paper hashes unigrams+bigrams into 10k buckets, bucket count is "
    "the scale/fidelity knob), then resample without replacement via "
    "the paper's Gumbel-top-k trick: rank by logw + Gumbel(0,1) noise "
    "g = -ln(-ln(u)) with a content-stable md5 uniform (NO rand() — "
    "reproducible across runs, engines, partitionings) and keep the "
    "top 20%. Determinism: per-bucket log-ratios and the Gumbel term "
    "are 9-decimal-quantized and summed/added as DECIMAL (exact, "
    "order-independent — distributed float sums are partition-order-"
    "dependent), and the global top-k rank avoids a single-partition "
    "window via the two-phase range-partitioned ordered_dense_rank "
    "(the decile_bucketing machinery). Spark shape: one token "
    "projection feeds three bounded aggregates (256-row bucket tables "
    "+ a 1-row total, all broadcast); the scoring join shuffles "
    "(doc_id, bucket) ints only; vectors of text never move. At "
    "100 TB: the bucket tables stay KB-sized at any corpus size, "
    "scoring is map-side-combined, and the rank is a range shuffle of "
    "(key, doc_id) pairs — the selection threshold can also be read "
    "off the bucket-weight CDF to skip ranking entirely.",
)
def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    B = 256
    docs = _t(spark, sf_dir, "documents")
    # tokenize+explode+md5 bucketing is row-local and every downstream
    # aggregate is exact (counts / decimal sums): spread the one-file
    # scan, then settle the slim (doc_id, lang, bucket) relation ONCE —
    # four consumers (qc, tc, tot, per_doc) read it, and re-evaluating
    # the explode per consumer is exactly the work that dominates
    inst = (
        _spread(docs, "doc_id")
        .select(
            "doc_id", "lang", F.explode(tokenize(F.col("text"))).alias("tok")
        )
        .select(
            "doc_id",
            "lang",
            (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % B)
            .alias("bucket"),
        )
        .localCheckpoint(eager=True)
    )
    qc = inst.groupBy("bucket").agg(F.count(F.lit(1)).alias("cq"))
    tc = (
        inst.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = inst.agg(
        F.count(F.lit(1)).alias("tq"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("tt"),
    )
    lr9 = F.round(
        F.log(
            ((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) * (F.col("tq") + float(B)))
            / ((F.col("cq") + 1.0) * (F.col("tt") + float(B)))
        ),
        9,
    ).cast("decimal(18,9)")
    ratio = (
        qc.join(tc, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select("bucket", lr9.alias("lr9"))
    )
    per_doc = (
        inst.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lr9").cast("double"), 6)
            .cast("decimal(18,6)")
            .alias("logw6"),
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dsir/"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / F.lit(4294967296.0)
    g9 = F.round(-F.log(-F.log(u)), 9).cast("decimal(18,9)")
    scored = (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce(F.col("logw6"), F.lit(0).cast("decimal(18,6)"))
            .alias("logw6"),
            g9.alias("g9"),
        )
        .withColumn(
            "__ord",
            F.struct(
                (-(F.col("logw6") + F.col("g9"))).alias("negkey"), F.col("doc_id")
            ),
        )
        # settle the doc-sized score relation: repartitionByRange inside
        # ordered_dense_rank otherwise evaluates the whole aggregation
        # lineage TWICE (boundary-sampling pass + shuffle pass)
        .localCheckpoint(eager=True)
    )
    ranked = ordered_dense_rank(scored, "__ord", rank_col="sel_rank")
    n = ranked.count()  # scalar over the checkpointed frame
    k = (n + 4) // 5  # ceil(n/5) in exact integer arithmetic
    return ranked.select(
        "doc_id",
        "n_tokens",
        (F.round(F.col("logw6").cast("double"), 6) + F.lit(0.0)).alias(
            "log_weight"
        ),
        "sel_rank",
        F.when(F.col("sel_rank") <= k, 1).otherwise(0).cast("int")
        .alias("is_selected"),
    )


@_register(
    "curriculum_interleave",
    """
    WITH q AS (
        SELECT quantile_cont(n_chars, 0.25) AS q1,
               quantile_cont(n_chars, 0.50) AS q2,
               quantile_cont(n_chars, 0.75) AS q3
        FROM documents
    ),
    banded AS (
        SELECT doc_id,
               CASE WHEN n_chars <= q1 THEN 0
                    WHEN n_chars <= q2 THEN 1
                    WHEN n_chars <= q3 THEN 2
                    ELSE 3 END AS band
        FROM documents CROSS JOIN q
    ),
    ranked AS (
        SELECT doc_id, band,
               ROW_NUMBER() OVER (
                   PARTITION BY band
                   ORDER BY ('0x' || substring(md5(
                       'curr/' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                            doc_id) AS rn
        FROM banded
    )
    SELECT CAST((rn - 1) * 4 + band AS BIGINT) AS global_pos,
           band, doc_id
    FROM ranked WHERE (rn - 1) * 4 + band < 40
    """,
    "§2.11 training-data ops (curriculum band interleave)",
    "Curriculum data ordering without a global sort: documents band "
    "into difficulty quartiles via plan-literal percentile thresholds "
    "(one scalar aggregate — no unpartitioned window, the "
    "indexing.py discipline), shuffle WITHIN each band by a "
    "content-stable md5 draw (banded window — partitioned), and the "
    "serving order round-robins across bands "
    "(pos = band_rank*4 + band), so every training window sees the "
    "full difficulty mix while order stays reproducible across "
    "runs/engines/partitionings. The hashed top-40 manifest pins the "
    "actual order, not just counts. At 100 TB this is one banded "
    "exchange; the interleave position is row-local arithmetic.",
)
def q_curriculum_interleave(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    q = docs.agg(
        F.expr("percentile(n_chars, 0.25)").alias("q1"),
        F.expr("percentile(n_chars, 0.50)").alias("q2"),
        F.expr("percentile(n_chars, 0.75)").alias("q3"),
    ).first()  # 3 scalars folded into the plan as literals
    band = (
        F.when(F.col("n_chars") <= q["q1"], 0)
        .when(F.col("n_chars") <= q["q2"], 1)
        .when(F.col("n_chars") <= q["q3"], 2)
        .otherwise(3)
    )
    draw = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("curr/"), F.col("doc_id").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    banded = docs.select("doc_id", band.alias("band"))
    w = Window.partitionBy("band").orderBy(draw.asc(), F.col("doc_id"))
    ranked = banded.withColumn("rn", F.row_number().over(w))
    pos = (F.col("rn") - 1) * 4 + F.col("band")
    return (
        ranked.withColumn("global_pos", pos.cast("long"))
        .filter(F.col("global_pos") < 40)
        .select("global_pos", "band", "doc_id")
    )


@_register(
    "weighted_sample_aes",
    """
    WITH keyed AS (
        SELECT doc_id,
               GREATEST(n_chars, 1) AS weight,
               LN((('0x' || SUBSTRING(md5('aes42_' || CAST(doc_id AS VARCHAR)),
                                      1, 8))::BIGINT % 1000000 + 0.5)
                  / 1000000.0)
                   / GREATEST(n_chars, 1) AS sel_key
        FROM documents
    )
    SELECT doc_id, weight, ROUND(sel_key, 9) AS sel_key
    FROM keyed
    ORDER BY sel_key DESC, doc_id
    LIMIT 100
    """,
    "§2.11 training-data ops (weighted sampling without replacement)",
    "Efraimidis-Spirakis A-ES weighted sampling without replacement: "
    "each document gets key u^(1/w) — equivalently ln(u)/w, which is "
    "what both engines order by — with weight w = n_chars and u a "
    "CONTENT-STABLE uniform from md5(seed, doc_id), and the sample is "
    "the top-100 keys. No rand() anywhere: the same corpus and seed "
    "reproduce the identical sample on any engine and any partitioning "
    "(the property a resumable training pipeline needs), and inclusion "
    "probability stays proportional to weight. Plan shape: one "
    "projection computes the key, the top-100 plans as distributed "
    "TakeOrdered (per-partition heaps, k rows to the driver) — no "
    "global sort, no window. At 100 TB this samples a corpus in one "
    "scan; for k in the millions swap the LIMIT for the "
    "threshold-refine pass the dsir_selection entry documents.",
)
def q_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars"), F.lit(1))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("aes42_"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000000
        + 0.5
    ) / 1000000.0
    keyed = docs.select(
        "doc_id",
        w.alias("weight"),
        (F.log(u) / w).alias("__k"),
    )
    return (
        keyed.orderBy(F.desc("__k"), "doc_id")
        .limit(100)
        .select("doc_id", "weight", F.round("__k", 9).alias("sel_key"))
    )


# =========================================================================
# End-to-end curation composition: the DAG every LLM-data user runs
# =========================================================================


def _sql_curation_e2e(
    n_sig: int = 8, n_bands: int = 4, threshold: float = 0.5,
    n_shards: int = 16,
) -> str:
    """DuckDB twin of the full curation DAG. CTEs that feed multiple
    consumers are MATERIALIZED — DuckDB inlines CTEs by default, which
    would re-run the token pipeline once per downstream reference
    (measured 133 s -> 0.5 s at sf0.01)."""
    rows = n_sig // n_bands
    sig_cols = ", ".join(
        f"list_min(list_transform(sh, t -> md5(t || '#{s}'))) AS s{s}"
        for s in range(1, n_sig + 1)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT id, {b} AS band, "
        f"md5({' || '.join(f's{b * rows + r}' for r in range(1, rows + 1))}) AS bh "
        "FROM sigs"
        for b in range(n_bands)
    )
    sw = sql_stopword_list(STOPWORDS)
    return f"""
    WITH RECURSIVE raw AS MATERIALIZED (
        SELECT doc_id, source, {sql_simple_tokens('text')} AS rt,
               {sql_tokens_pipeline('text')} AS t
        FROM documents
    ),
    gated AS MATERIALIZED (
        SELECT doc_id, source, t FROM raw
        WHERE len(rt) BETWEEN 30 AND 100000
          AND (CASE WHEN len(rt) = 0 THEN 0.0
               ELSE CAST(list_aggregate(list_transform(rt, x -> length(x)),
                                        'sum') AS DOUBLE) / len(rt) END)
              BETWEEN 3 AND 10
          AND len(list_filter(rt, x -> x IN {sw})) >= 2
    ),
    exact AS MATERIALIZED (
        SELECT doc_id, source, t FROM (
            SELECT doc_id, source, t,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(array_to_string(t, ' '))
                       ORDER BY doc_id) AS rn
            FROM gated)
        WHERE rn = 1
    ),
    ts AS MATERIALIZED (
        SELECT doc_id AS id, source, t,
               list_distinct(list_transform(range(1, len(t) - 1),
                   i -> t[CAST(i AS INT)] || ' ' || t[CAST(i+1 AS INT)]
                        || ' ' || t[CAST(i+2 AS INT)])) AS sh
        FROM exact WHERE len(t) >= 3
    ),
    sigs AS (SELECT id, {sig_cols} FROM ts),
    bands AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
    ),
    scored AS (
        SELECT id_a, id_b,
               ROUND(1.0 - len(list_intersect(x.sh, y.sh))::DOUBLE
                     / (len(x.sh) + len(y.sh)
                        - len(list_intersect(x.sh, y.sh))), 6) AS jd
        FROM cand JOIN ts x ON cand.id_a = x.id
                  JOIN ts y ON cand.id_b = y.id
    ),
    prs AS (SELECT id_a, id_b FROM scored WHERE jd <= {threshold}),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM prs UNION SELECT id_b, id_a FROM prs
    ),
    reach(node, m) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT eg.v, r.m FROM reach r JOIN edges eg ON eg.u = r.node
    ),
    comp AS (SELECT node, MIN(m) AS cluster FROM reach GROUP BY node),
    surv AS MATERIALIZED (
        SELECT ts.id AS doc_id, ts.source, ts.t
        FROM ts LEFT JOIN comp ON comp.node = ts.id
        WHERE COALESCE(comp.cluster, ts.id) = ts.id
    ),
    src AS (
        SELECT source, COUNT(*) AS ns,
               CAST(ROUND(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000)
                    AS HUGEINT) AS wq
        FROM surv GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(wq) AS HUGEINT) AS sw,
               CAST(CEIL((SELECT COUNT(*) FROM surv) * 0.5) AS HUGEINT) AS b
        FROM src
    ),
    based AS (
        SELECT source, ns, wq,
               (tot.b * wq) // tot.sw AS bd, (tot.b * wq) % tot.sw AS rem
        FROM src, tot
    ),
    kk AS (SELECT tot.b - (SELECT SUM(bd) FROM based) AS k FROM tot),
    quota AS (
        SELECT source,
               bd + CASE WHEN ROW_NUMBER()
                              OVER (ORDER BY rem DESC, source) <= kk.k
                         THEN 1 ELSE 0 END AS q
        FROM based, kk
    ),
    ranked AS (
        SELECT doc_id, source, t,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5('mix#' || doc_id), doc_id)
                   AS rs
        FROM surv
    ),
    sel AS MATERIALIZED (
        SELECT ranked.doc_id, ranked.t FROM ranked JOIN quota USING (source)
        WHERE rs <= quota.q
    ),
    shards AS (
        SELECT doc_id, len(t) AS ntok,
               ('0x' || substring(md5('shard#' || doc_id), 1, 8))::BIGINT
                   % {n_shards} AS shard_id
        FROM sel
    ),
    funnel AS (
        SELECT (SELECT COUNT(*) FROM documents) AS n_raw,
               (SELECT COUNT(*) FROM gated) AS n_admitted,
               (SELECT COUNT(*) FROM exact) AS n_exact_unique,
               (SELECT COUNT(*) FROM surv) AS n_fuzzy_unique,
               (SELECT COUNT(*) FROM sel) AS n_selected
    )
    SELECT shard_id, COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS shard_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS member_checksum,
           funnel.n_raw, funnel.n_admitted, funnel.n_exact_unique,
           funnel.n_fuzzy_unique, funnel.n_selected
    FROM shards, funnel
    GROUP BY shard_id, n_raw, n_admitted, n_exact_unique,
             n_fuzzy_unique, n_selected
    """


@_register(
    "curation_pipeline_e2e",
    _sql_curation_e2e(),
    "§2.11 composition (end-to-end curation DAG: clean -> gate -> "
    "exact dedup -> fuzzy dedup -> mixture -> shard manifest)",
    "The integration shape every LLM-data user runs, as ONE registered "
    "DAG over the existing operators: (1) the full cleaning pipeline "
    "(functions.text.tokens_pipeline, T1-T4/P4); (2) a Gopher-style "
    "admission gate on the RAW token stream (word-count bounds, mean "
    "word length in [3,10], stop-word evidence >= 2 — the "
    "gopher_admission rules); (3) exact dedup on the cleaned-text md5 "
    "fingerprint, min-doc_id keeper via a partial-aggregatable "
    "min(struct) (D1); (4) fuzzy dedup: 3-token shingles -> "
    "operators.dedup.minhash_banded_pairs (md5-permutation MinHash, "
    "banded candidates, exact-Jaccard verify at 0.5) -> "
    "connected_components min-label clusters, keep-one (shingles, not "
    "unigram sets: unigram Jaccard over a shared template vocabulary "
    "marks EVERYTHING near-dup — measured 348 docs -> 1 cluster at "
    "sf0.01; trigram shingles leave true clone families only); "
    "(5) temperature mixture: per-source quotas = exact Hamilton "
    "apportionment of a ceil(n/2) budget over sqrt(n_s) weights "
    "(integer-exact, the negative_sampling_table discipline), members "
    "chosen by content-stable md5 rank within source; (6) shard "
    "manifest: md5-hash sharding into 16 shards with per-shard doc "
    "count, token count, and member-id checksum, plus the funnel "
    "counts (raw/admitted/exact/fuzzy/selected) pinned on every row. "
    "Hash-exact vs an oracle that replays all six stages including "
    "the recursive-CTE transitive closure. At 100 TB: tokenization "
    "and gating are map-only; exact dedup is one partial-aggregated "
    "exchange on the fingerprint; MinHash shuffles (band, hash, id) "
    "tuples; the label loop shuffles (node, cluster) longs; the "
    "per-source rank would become the range-partitioned two-phase "
    "rank for planet-scale sources; sharding is a pure map. The "
    "checkpointed stage boundaries are exactly where a production "
    "run would persist to the lakehouse.",
)
def q_curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..functions.apportion import hamilton_apportion
    from ..functions.text import (
        drop_empty,
        drop_short_tokens,
        remove_numbers,
        remove_stopwords,
        tokenize,
    )
    from ..operators.dedup import connected_components, minhash_banded_pairs

    n_shards = 16
    docs = _t(spark, sf_dir, "documents")
    # the test-scale documents table is ONE parquet file = one input
    # partition, which would serialize the whole CPU-bound token
    # pipeline (tokenize + 4 array passes per row); spread it first.
    # At 100 TB the scan already yields a partition per split and this
    # branch never fires.
    pipe_src = _spread(docs, "doc_id")
    # ONE clean+split pass: rt materializes in its own projection (the
    # gopher_admission CSE discipline — CollapseProject won't inline a
    # multiply-referenced non-trivial alias), and the clean token
    # pipeline derives from rt per tokens_pipeline's own definition
    # instead of re-running the cleaning regex on the raw text.
    raw = pipe_src.select(
        "doc_id", "source", tokenize(F.col("text")).alias("rt")
    ).withColumn(
        "t",
        drop_empty(
            drop_short_tokens(remove_stopwords(remove_numbers(F.col("rt"))))
        ),
    )
    n_rt = F.size("rt")
    mean_len = F.when(n_rt == 0, F.lit(0.0)).otherwise(
        F.aggregate("rt", F.lit(0), lambda a, x: a + F.length(x)).cast("double")
        / n_rt
    )
    sw_hits = F.size(F.filter("rt", lambda x: x.isin(*STOPWORDS)))
    # stage boundary: the token pipeline runs ONCE (checkpoint), every
    # downstream stage and funnel count reuses the settled relation
    gated = (
        raw.filter(
            n_rt.between(30, 100000)
            & mean_len.between(3, 10)
            & (sw_hits >= 2)
        )
        .select("doc_id", "source", "t")
        .localCheckpoint(eager=True)
    )
    exact = (
        gated.groupBy(F.md5(F.concat_ws(" ", "t")).alias("fp"))
        .agg(F.min(F.struct("doc_id", "source", "t")).alias("r"))
        .select("r.doc_id", "r.source", "r.t")
    )
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at("t", i),
                F.element_at("t", i + 1),
                F.element_at("t", i + 2),
            ),
        )
    )
    # AQE coalesces the exact-dedup exchange to ONE ~MB-sized partition,
    # which would serialize the shingle build here and the 8-way md5
    # MinHash signatures downstream (the pipeline's hottest expressions);
    # re-spread the NARROW rows before computing either. Result-neutral:
    # every consumer is an equi-join or aggregation over the row set.
    ts = (
        exact.filter(F.size("t") >= 3)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", "source", "t", shingles.alias("sh"))
        .localCheckpoint(eager=True)
    )
    pairs = minhash_banded_pairs(
        ts, id_col="doc_id", tokens_col="sh", threshold=0.5
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    surv = (
        ts.withColumnRenamed("doc_id", "node")
        .join(comp, "node", "left")
        .filter(F.coalesce("cluster", F.col("node")) == F.col("node"))
        .select(F.col("node").alias("doc_id"), "source", "t")
        .localCheckpoint(eager=True)
    )
    # mixture quotas: dimension-sized per-source counts fold into an
    # exact integer Hamilton apportionment on the driver (the same
    # collect-a-dimension discipline as document_packing's offsets);
    # frac >= 0.5 replicates both engines' ROUND-half-away exactly
    counts = sorted(
        (r["source"], r["n"])
        for r in surv.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n_surv = sum(n for _, n in counts)
    budget = (n_surv + 1) // 2  # == ceil(n * 0.5), exact
    wqs = []
    for s, n in counts:
        x = math.sqrt(n) * 1e6
        f = math.floor(x)
        # frac >= 0.5 replicates ROUND-half-away exactly for positives
        wqs.append((s, int(f) + (1 if x - f >= 0.5 else 0)))
    quotas = hamilton_apportion(dict(wqs), budget)
    quota_df = spark.createDataFrame(
        [(s, int(q)) for s, q in sorted(quotas.items())], "source string, q long"
    )
    mix_hash = F.md5(F.concat(F.lit("mix#"), F.col("doc_id").cast("string")))
    wr = Window.partitionBy("source").orderBy(mix_hash, "doc_id")
    sel = (
        surv.withColumn("rs", F.row_number().over(wr))
        .join(F.broadcast(quota_df), "source")
        .filter(F.col("rs") <= F.col("q"))
        .select("doc_id", "t")
    )
    shard_id = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard#"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_shards
    )
    manifest = (
        sel.select(
            shard_id.alias("shard_id"),
            F.size("t").alias("ntok"),
            "doc_id",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("long").alias("shard_tokens"),
            F.sum("doc_id").cast("long").alias("member_checksum"),
        )
    )
    funnel = (
        docs.agg(F.count(F.lit(1)).alias("n_raw"))
        .crossJoin(gated.agg(F.count(F.lit(1)).alias("n_admitted")))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact_unique")))
        .crossJoin(surv.agg(F.count(F.lit(1)).alias("n_fuzzy_unique")))
        .crossJoin(sel.agg(F.count(F.lit(1)).alias("n_selected")))
    )
    return manifest.crossJoin(F.broadcast(funnel)).select(
        "shard_id",
        "n_docs",
        "shard_tokens",
        "member_checksum",
        "n_raw",
        "n_admitted",
        "n_exact_unique",
        "n_fuzzy_unique",
        "n_selected",
    )


_TRUNC_LENGTHS = (512, 1024, 2048, 4096)


@_register(
    "truncation_loss_report",
    f"""
    WITH toks AS (
        SELECT CAST(length(text) - length(replace(text, ' ', '')) + 1
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    ls AS (SELECT unnest({list(_TRUNC_LENGTHS)}) AS ctx_len)
    SELECT CAST(ctx_len AS BIGINT) AS ctx_len,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_tokens > ctx_len THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(GREATEST(n_tokens - ctx_len, 0)) AS BIGINT)
               AS tokens_lost,
           ROUND(CAST(SUM(GREATEST(n_tokens - ctx_len, 0)) AS DOUBLE)
                 / SUM(n_tokens), 6) AS pct_lost
    FROM toks CROSS JOIN ls
    GROUP BY ctx_len
    """,
    "§2.11 training-data ops (context-length truncation-loss report)",
    "The sizing question asked before every pre-training run: at "
    f"context lengths {_TRUNC_LENGTHS}, how many documents overflow "
    "and what fraction of the token budget falls off the end? One "
    "map-only pass computes the whitespace token estimator (the same "
    "tokenizer-free count document_packing uses), a 4-row literal "
    "length spine broadcast-crosses it, and a single "
    "map-side-combinable groupBy folds N docs into 4 cells — the "
    "complement of document_packing (which packs short docs; this "
    "prices truncating long ones). At 100 TB: two narrow columns "
    "scanned, 4x partial-aggregated rows shuffled, nothing else "
    "moves. Oracle recomputes the identical integer arithmetic; "
    "pct_lost is one integer-ratio double division on both engines.",
)
def q_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_tokens = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    toks = docs.select(n_tokens.alias("n_tokens"))
    spine = spark.createDataFrame(
        [(int(l),) for l in _TRUNC_LENGTHS], "ctx_len long"
    )
    lost = F.greatest(F.col("n_tokens") - F.col("ctx_len"), F.lit(0))
    return (
        toks.crossJoin(F.broadcast(spine))
        .groupBy("ctx_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_tokens") > F.col("ctx_len")).cast("int"))
            .cast("long")
            .alias("n_truncated"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(lost).cast("long").alias("tokens_lost"),
            F.round(
                F.sum(lost).cast("double") / F.sum("n_tokens"), 6
            ).alias("pct_lost"),
        )
    )


@_register(
    "token_budget_waterfill",
    """
    WITH src AS MATERIALIZED (
        SELECT source,
               CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
                    AS HUGEINT) AS n
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n) AS HUGEINT) AS nt,
               (9 * CAST(SUM(n) AS HUGEINT)) // 5 AS b
        FROM src
    ),
    w AS MATERIALIZED (
        SELECT source, n, (19 * n) // 10 AS cap,
               CAST(ROUND(sqrt(CAST(n AS DOUBLE)) * 1000000) AS HUGEINT)
                   AS wq,
               ROW_NUMBER() OVER (
                   ORDER BY CAST((19 * n) // 10 AS DOUBLE)
                            / CAST(ROUND(sqrt(CAST(n AS DOUBLE)) * 1000000)
                                   AS DOUBLE),
                            source) AS rk
        FROM src
    ),
    splits AS (
        SELECT CAST(unnest(range(0, (SELECT COUNT(*) FROM w) + 1))
                    AS BIGINT) AS i
    ),
    agg AS (
        SELECT s.i,
               MIN(tot.b) - COALESCE(SUM(CASE WHEN w.rk <= s.i
                                              THEN w.cap END), 0) AS r,
               COALESCE(SUM(CASE WHEN w.rk > s.i THEN w.wq END), 0) AS sw
        FROM splits s CROSS JOIN w CROSS JOIN tot
        GROUP BY s.i
    ),
    valid AS MATERIALIZED (
        SELECT a.i, a.r, a.sw FROM agg a
        WHERE a.r >= 0
          AND NOT EXISTS (SELECT 1 FROM w
                          WHERE w.rk <= a.i AND w.cap * a.sw > a.r * w.wq)
          AND NOT EXISTS (SELECT 1 FROM w
                          WHERE w.rk > a.i AND w.cap * a.sw <= a.r * w.wq)
        ORDER BY a.i LIMIT 1
    ),
    based AS MATERIALIZED (
        SELECT w.source, w.wq, valid.r, valid.sw,
               (valid.r * w.wq) // valid.sw AS bd,
               (valid.r * w.wq) % valid.sw AS rem
        FROM w, valid WHERE w.rk > valid.i
    ),
    kk AS (SELECT MIN(r) - COALESCE(SUM(bd), 0) AS k FROM based),
    halloc AS (
        SELECT source,
               bd + CASE WHEN ROW_NUMBER()
                              OVER (ORDER BY rem DESC, source) <= kk.k
                         THEN 1 ELSE 0 END AS halloc
        FROM based, kk
    ),
    alloc AS MATERIALIZED (
        SELECT w.source, w.n, w.cap,
               CASE WHEN w.rk <= valid.i THEN w.cap
                    ELSE halloc.halloc END AS alloc,
               w.rk <= valid.i AS saturated
        FROM w CROSS JOIN valid LEFT JOIN halloc USING (source)
    )
    SELECT alloc.source,
           CAST(alloc.n AS BIGINT) AS n_tokens,
           CAST(alloc.cap AS BIGINT) AS cap_tokens,
           CAST(alloc.alloc AS BIGINT) AS alloc_tokens,
           ROUND(CAST(alloc.alloc AS DOUBLE) / CAST(alloc.n AS DOUBLE), 6)
               AS epochs,
           alloc.saturated,
           CAST(tot.b AS BIGINT) AS budget_tokens,
           CAST(tot.b - (SELECT SUM(alloc) FROM alloc) AS BIGINT)
               AS leftover_tokens
    FROM alloc, tot
    """,
    "§2.11 training-data ops (token-budget waterfill under epoch caps)",
    "The data-recipe allocation every multi-domain pre-training run "
    "solves (LLaMA/DoReMi-style): split a total token budget "
    "(1.8x the corpus here) across sources proportional to "
    "sqrt-temperature weights, but cap every source at 1.9 epochs of "
    "its own tokens — capped sources saturate and their surplus "
    "waterfalls to the rest. Solved EXACTLY in integers: the "
    "saturated set is the unique sorted-by-cap/weight prefix whose "
    "threshold condition holds under HUGEINT cross-multiplication "
    "(no float thresholds), and the unsaturated remainder is a "
    "largest-remainder Hamilton apportionment (functions.apportion), "
    "so allocations sum to the budget to the TOKEN unless everything "
    "saturates (leftover_tokens reports the residue). Engine shape: "
    "the only corpus-sized work is one map-side-combinable per-source "
    "token aggregate; the 20-row allocation solves exactly on the "
    "driver (the dimension-collect discipline) while the oracle "
    "replays split search and apportionment relationally. At 100 TB "
    "sources are a dimension; this never touches row data twice.",
)
def q_token_budget_waterfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math

    from ..functions.apportion import hamilton_apportion

    docs = _t(spark, sf_dir, "documents")
    n_tokens = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    counts = {
        r["source"]: int(r["n"])
        for r in docs.select("source", n_tokens.alias("t"))
        .groupBy("source")
        .agg(F.sum("t").alias("n"))
        .collect()
    }
    total = sum(counts.values())
    budget = (9 * total) // 5
    cap = {s: (19 * n) // 10 for s, n in counts.items()}
    wq = {}
    for s, n in counts.items():
        x = math.sqrt(n) * 1e6
        f = math.floor(x)
        wq[s] = int(f) + (1 if x - f >= 0.5 else 0)
    order = sorted(counts, key=lambda s: (cap[s] / wq[s], s))
    chosen = None
    for i in range(len(order) + 1):
        r = budget - sum(cap[s] for s in order[:i])
        sw = sum(wq[s] for s in order[i:])
        if r < 0:
            continue
        if any(cap[s] * sw > r * wq[s] for s in order[:i]):
            continue
        if any(cap[s] * sw <= r * wq[s] for s in order[i:]):
            continue
        chosen = (i, r, sw)
        break
    assert chosen is not None, "waterfill split must exist"
    i, r, _sw = chosen
    saturated = set(order[:i])
    alloc = {s: cap[s] for s in saturated}
    if order[i:]:
        alloc.update(hamilton_apportion({s: wq[s] for s in order[i:]}, r))
    leftover = budget - sum(alloc.values())
    rows = [
        (
            s,
            counts[s],
            cap[s],
            alloc[s],
            # floor(x*1e6+0.5)/1e6 == ROUND(x, 6) half-away for positives
            math.floor(alloc[s] / counts[s] * 1e6 + 0.5) / 1e6,
            s in saturated,
            budget,
            leftover,
        )
        for s in sorted(counts)
    ]
    return spark.createDataFrame(
        rows,
        "source string, n_tokens long, cap_tokens long, alloc_tokens long, "
        "epochs double, saturated boolean, budget_tokens long, "
        "leftover_tokens long",
    )
