"""Dedup + similarity-search queries (exact/minhash/simhash/semantic/binary dedup, kNN/LSH/IVF/PQ/graph ANN, embeddings).

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
    _ann_index_dir,
    _register,
    _spread,
    _t,
    add_simhash,
    cosine_similarity,
    dedup_stats,
    knn_bruteforce,
    sql_tokens_pipeline,
    tokens_pipeline,
    topk_per_group,
)




@_register(
    "dedup_stats_by_source",
    """
    SELECT source,
           COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
           COUNT(*) - CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_duplicates
    FROM documents GROUP BY source
    """,
    "D1 (exact dedup accounting)",
    "Reference list(set(corpus)) dedup (supervised_classifier.py:174-175) "
    "as fingerprint-based group accounting.",
)
def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup_stats(docs, "text", ["source"])


@_register(
    "ngram_jaccard_pairs",
    """
    WITH grams AS (
        SELECT n_nationkey AS key, n_name AS name,
               list_distinct(list_transform(range(1, length(n_name) - 1),
                                            i -> substring(n_name, i, 3))) AS g
        FROM nation
    )
    SELECT a.name AS name_a, b.name AS name_b,
           ROUND(CAST(len(list_filter(a.g, x -> list_contains(b.g, x))) AS DOUBLE)
                 / (len(a.g) + len(b.g) - len(list_filter(a.g, x -> list_contains(b.g, x)))), 6) AS jaccard
    FROM grams a JOIN grams b ON a.key < b.key
    WHERE len(list_filter(a.g, x -> list_contains(b.g, x))) > 0
    """,
    "§2.11 dedup (n-gram Jaccard near-dup)",
    "Character-trigram Jaccard similarity between names — the scoring "
    "kernel of shingle-based near-dup.",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    grams = nation.select(
        F.col("n_nationkey").alias("key"),
        F.col("n_name").alias("name"),
        F.array_distinct(
            F.expr(
                "transform(sequence(1, length(n_name) - 2), i -> substring(n_name, i, 3))"
            )
        ).alias("g"),
    )
    a = grams.select(
        F.col("key").alias("key_a"), F.col("name").alias("name_a"), F.col("g").alias("ga")
    )
    b = grams.select(
        F.col("key").alias("key_b"), F.col("name").alias("name_b"), F.col("g").alias("gb")
    )
    pairs = a.join(b, F.col("key_a") < F.col("key_b"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    return (
        pairs.withColumn("inter", inter)
        .filter(F.col("inter") > 0)
        .select(
            "name_a",
            "name_b",
            F.round(F.col("inter").cast("double") / union, 6).alias("jaccard"),
        )
    )


# =========================================================================
# Embeddings: similarity search, vector stats, polysemy rule shape
# =========================================================================


@_register(
    "knn_bruteforce_cosine",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
    pairs AS (
        SELECT probe_id, e.vec_id AS neighbor_id,
               list_dot_product(pv, e.v)
                 / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(e.v, e.v))) AS sim
        FROM probes CROSS JOIN e
        WHERE e.vec_id != probe_id
    )
    SELECT probe_id, neighbor_id, ROUND(sim, 6) AS cosine_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rn
          FROM pairs)
    WHERE rn <= 5
    """,
    "§2.11 similarity search (brute-force cosine top-k), M14 shape",
    "Exact kNN: probe broadcast × corpus scan, cosine via zip_with/"
    "aggregate HOFs (no UDF), window top-k.",
)
def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    return knn_bruteforce(emb, probes, k=5)


@_register(
    "embedding_norm_stats",
    """
    SELECT label,
           COUNT(*) AS n_vectors,
           ROUND(AVG(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm
    FROM embeddings GROUP BY label
    """,
    "§2.11 multimodal columns (vector stats)",
    "Per-label embedding L2-norm statistics, float64 sequential fold.",
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import dot

    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return (
        emb.select("label", F.sqrt(dot(v, v)).alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("norm"), 6).alias("avg_norm"),
        )
    )


def _sql_minhash_pairs(n_sig: int = 8, n_bands: int = 4,
                       threshold: float = 0.5, id_bound: int = 200) -> str:
    """DuckDB twin of operators.dedup.minhash_banded_pairs: identical
    md5-permutation signatures, band hashes, bucket join, and exact
    Jaccard verification."""
    rows = n_sig // n_bands
    sig_cols = ", ".join(
        f"list_min(list_transform(ts, t -> md5(t || '#{s}'))) AS s{s}"
        for s in range(1, n_sig + 1)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT id, {b} AS band, "
        f"md5({' || '.join(f's{b * rows + r}' for r in range(1, rows + 1))}) AS bh "
        "FROM sigs"
        for b in range(n_bands)
    )
    return f"""
    WITH ts AS (
        SELECT doc_id AS id, list_distinct({sql_tokens_pipeline('text')}) AS ts
        FROM documents WHERE doc_id < {id_bound}
    ),
    ne AS (SELECT * FROM ts WHERE len(ts) > 0),
    sigs AS (SELECT id, {sig_cols} FROM (SELECT id, ts FROM ne)),
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
               ROUND(1.0 - len(list_intersect(x.ts, y.ts))::DOUBLE
                     / (len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts))),
                     6) AS jaccard_dist
        FROM cand
        JOIN ne x ON cand.id_a = x.id
        JOIN ne y ON cand.id_b = y.id
    )
    SELECT id_a, id_b, jaccard_dist FROM scored
    WHERE jaccard_dist <= {threshold}
    """


@_register(
    "minhash_neardup_pairs",
    _sql_minhash_pairs(),
    "§2.11 dedup (MinHash LSH banding, deterministic), M14 shape",
    "Deterministic MinHash LSH near-dup pairs: md5-permutation "
    "signatures → band-hash bucket join → EXACT Jaccard verification of "
    "every candidate (jaccard_dist ≤ 0.5) — shingle→minhash→band→"
    "bucket-join with an engine-portable hash family, so the DuckDB "
    "oracle replays every step (the MLlib MinHashLSH variant remains as "
    "operators.dedup.minhash_lsh_pairs).",
)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_banded_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = docs.select(
        "doc_id", tokens_pipeline(F.col("text")).alias("tokens")
    )
    return minhash_banded_pairs(toks, threshold=0.5)


def _sql_simhash60() -> str:
    """DuckDB twin of the portable 60-bit SimHash: md5-derived per-token
    hash, per-bit-plane majority vote, bit fold."""
    hs = (
        f"list_transform({sql_tokens_pipeline('text')}, "
        "t -> ('0x' || substring(md5(t), 1, 15))::BIGINT)"
    )
    bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {i}) & 1) = 1)) "
        f"> len(hs) THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(60)
    )
    return f"""
    SELECT doc_id, ({bits}) AS simhash
    FROM (SELECT doc_id, {hs} AS hs FROM documents)
    """


@_register(
    "simhash_documents",
    _sql_simhash60(),
    "§2.11 dedup (SimHash, engine-portable)",
    "60-bit SimHash per document via bitwise-majority HOF expression "
    "over an md5-derived portable token hash — DuckDB replays the "
    "identical hash/vote/fold, so the fingerprints are oracle-exact "
    "(the xxhash64 64-bit variant remains the default of "
    "operators.dedup.add_simhash for pure-Spark pipelines).",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import portable_hash60

    # tokenize + per-token md5 + bit-majority fold are row-local: spread
    # the one-file scan so they run a core per split (no-op at scale)
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", tokens_pipeline(F.col("text")).alias("tokens"))
    return add_simhash(
        toks, "tokens", hash_fn=portable_hash60, n_bits=60
    ).select("doc_id", "simhash")


@_register(
    "embedding_centroid_norm",
    """
    WITH pos AS (
        SELECT label, generate_subscripts(embedding, 1) AS pos,
               unnest(embedding::DOUBLE[]) AS v
        FROM embeddings
    ),
    dims AS (SELECT label, pos, AVG(v) AS m FROM pos GROUP BY label, pos)
    SELECT label, ROUND(sqrt(SUM(m * m)), 6) AS centroid_norm
    FROM dims GROUP BY label
    """,
    "§2.11 similarity (per-class centroid — the IVF coarse quantizer step)",
    "Element-wise mean vector per label via positional explode, then its "
    "L2 norm. This is the centroid computation an IVF index build uses.",
)
def q_centroid_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    pos = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    dims = pos.groupBy("label", "pos").agg(F.avg("v").alias("m"))
    return dims.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm")
    )


_DOC_SHINGLES = (
    f"list_distinct(list_transform(range(1, len({sql_tokens_pipeline('text')})), "
    f"i -> {sql_tokens_pipeline('text')}[i] || ' ' || {sql_tokens_pipeline('text')}[i + 1]))"
)


@_register(
    "document_jaccard_neardup",
    f"""
    WITH sh AS (
        SELECT doc_id, {_DOC_SHINGLES} AS g
        FROM documents
        WHERE doc_id < 60 AND len({sql_tokens_pipeline('text')}) >= 2
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_filter(a.g, x -> list_contains(b.g, x))) AS DOUBLE)
                 / (len(a.g) + len(b.g) - len(list_filter(a.g, x -> list_contains(b.g, x)))) AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, ROUND(j, 6) AS jaccard
    FROM pairs WHERE j >= 0.2
    """,
    "§2.11 dedup (word-bigram shingle Jaccard on documents)",
    "Near-duplicate detection on the documents table: word-bigram "
    "shingles, exact Jaccard, threshold 0.2.",
)
def q_doc_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    toks = docs.select("doc_id", tokens_pipeline(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    shingles = toks.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            )
        ).alias("g"),
    )
    a = shingles.select(F.col("doc_id").alias("id_a"), F.col("g").alias("ga"))
    b = shingles.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("j", inter.cast("double") / union)
        .filter(F.col("j") >= 0.2)
        .select("id_a", "id_b", F.round("j", 6).alias("jaccard"))
    )


@_register(
    "embedding_cosine_neardup",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, ROUND(sim, 6) AS cosine_sim
    FROM pairs WHERE sim >= 0.3
    """,
    "§2.11 dedup (embedding-cosine near-dup)",
    "All-pairs cosine near-duplicate candidates over the embeddings "
    "table (bounded probe set; the LSH variant is the scale path).",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import dot

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    # norms once per row, one dot per pair (bit-identical cosine,
    # 3x less HOF work in the O(n^2) stage — knn_bruteforce pattern)
    v = F.col("embedding").cast("array<double>")
    base = emb.select("vec_id", v.alias("v"), F.sqrt(dot(v, v)).alias("nrm"))
    a = base.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).withColumn(
        "sim", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    )
    return (
        pairs.filter(F.col("sim") >= 0.3)
        .select("id_a", "id_b", F.round("sim", 6).alias("cosine_sim"))
    )


def _sql_minhash_sig(seed: int) -> str:
    return (
        f"list_min(list_transform({sql_tokens_pipeline('text')}, "
        f"t -> md5(t || '#{seed}')))"
    )


@_register(
    "minhash_signatures",
    f"""
    SELECT doc_id,
           {_sql_minhash_sig(1)} AS sig1,
           {_sql_minhash_sig(2)} AS sig2,
           {_sql_minhash_sig(3)} AS sig3,
           {_sql_minhash_sig(4)} AS sig4
    FROM documents
    """,
    "§2.11 dedup (MinHash signatures, engine-portable md5 permutations)",
    "Four md5-permutation MinHash signatures per document — the "
    "band-hash input for LSH bucketing, oracle-exact across engines.",
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # pipeline projected once: the four signature permutations share the
    # token array (HOFs block CSE — inlining re-cleaned the text 4x)
    wt = docs.select("doc_id", tokens_pipeline(F.col("text")).alias("toks"))
    toks = F.col("toks")

    def sig(seed: int) -> F.Column:
        suffix = F.lit(f"#{seed}")
        # single-arg lambda: a two-arg lambda would receive the array
        # INDEX as the second argument, not the closure value
        return F.array_min(F.transform(toks, lambda t: F.md5(F.concat(t, suffix))))

    return wt.select(
        "doc_id", *[sig(s).alias(f"sig{s}") for s in (1, 2, 3, 4)]
    )


@_register(
    "sparse_cosine_pairs",
    f"""
    WITH corpus AS (
        SELECT doc_id, {sql_tokens_pipeline('text')} AS tk
        FROM documents WHERE doc_id < 100
    ),
    tok AS (SELECT doc_id, unnest(tk) AS term FROM corpus),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM corpus),
    w AS (
        SELECT tf.doc_id, tf.term,
               CAST(ROUND(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6)
                    AS DECIMAL(18,6)) AS w
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
        WHERE dfreq.df <= 20
    ),
    norms AS (
        SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm
        FROM w GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.w * b.w) AS DOUBLE) AS dot
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine_sim
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE dot / (na.nrm * nb.nrm) >= 0.1
    ORDER BY cosine_sim DESC, doc_a, doc_b
    LIMIT 50
    """,
    "§2.11 similarity (sparse TF-IDF cosine via postings self-join)",
    "Document similarity WITHOUT embeddings: the classic sparse-vector "
    "cosine computed relationally — TF-IDF weights per (doc, term), "
    "postings self-joined on the TERM key so only documents sharing a "
    "term ever meet (the MapReduce text-similarity pattern; Elsayed et "
    "al. 2008 'Pairwise Document Similarity in Large Collections with "
    "MapReduce'), exact-DECIMAL dot products and norms so the "
    "distributed sums are order-independent, then one double division "
    "per surviving pair. The df <= 20 prune is the load-bearing scale "
    "knob: dropping stop-like high-df terms bounds the per-term join "
    "fan-out from O(df^2) on the hottest term to a constant, exactly "
    "like the MinHash band and SRP bucket caps elsewhere — at 100 TB "
    "the term-keyed shuffle carries (term, doc, weight) triples only "
    "and the norms join back broadcast. Complements the dense-"
    "embedding ANN family: same contract, lexical feature space. "
    "Deterministic top-50 (rounded-sim, doc_a, doc_b order).",
)
def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    corpus = docs.select(
        "doc_id", tokens_pipeline(F.col("text")).alias("tk")
    )
    n_docs = corpus.count()  # driver scalar folded into the idf literal
    tok = corpus.select("doc_id", F.explode("tk").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    w = (
        tf.join(F.broadcast(dfreq.filter(F.col("df") <= 20)), "term")
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("double").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    sim = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .filter(sim >= 0.1)
        .select("doc_a", "doc_b", F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), "doc_a", "doc_b")
        .limit(50)
    )


def _ann_recall_report(
    exact: DataFrame,
    approx: DataFrame,
    k: int,
    mean_floor: float,
) -> DataFrame:
    """Oracle-hashable ANN verification report (upgraded round 5 from
    the rows-only recall dump, mirroring the ``knn_vote_lsh`` contract
    promotion): one row per probe carrying

    - ``exact_top{k}_md5`` — md5 of the probe's EXACT same-metric
      top-k neighbor-id set (ids sorted ascending, comma-joined). This
      side is fully deterministic, so a DuckDB oracle recomputes and
      hash-verifies it — any drift in the exact-kNN plan (metric,
      tie-break, rank boundary) is now a hard driver-level failure.
    - ``ok_mean_recall`` — the approximate side's AGGREGATE contract:
      TRUE iff mean recall@k across all probes ≥ ``mean_floor``. The
      oracle emits literal TRUE, so a recall collapse hash-fails; the
      exact per-probe recall value stays out of the hashed output
      because it depends on Spark's LSH hash family / KMeans cells,
      which no oracle can recompute.
    """
    hits = approx.withColumn("__hit", F.lit(1))
    per_probe = (
        exact.join(hits, ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hit"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("neighbor_id")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias(f"exact_top{k}_md5"),
        )
        .withColumn("__recall", F.col("n_hit") / F.col("n_exact"))
    )
    # materialize the per-probe frame ONCE (one row per probe): the
    # mean aggregate and the output projection both read the
    # checkpoint instead of re-running the exact-kNN join + ANN plan
    per_probe = per_probe.localCheckpoint(eager=True)
    mean_ok = per_probe.agg(
        (F.avg("__recall") >= F.lit(mean_floor)).alias("ok_mean_recall")
    )
    # 1-row aggregate crossed back (broadcast NL join, no shuffle on the
    # probe side) — the window-free global-total pattern
    return per_probe.select(
        "probe_id", "n_exact", f"exact_top{k}_md5"
    ).crossJoin(F.broadcast(mean_ok))


@_register(
    "lsh_ann_neighbors",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 20),
    pairs AS (
        SELECT probe_id, e.vec_id AS neighbor_id,
               -- left-to-right fold of (a[i]-b[i])^2, bit-identical to
               -- the Spark side's zip_with+aggregate sq_dist
               list_reduce(
                   list_transform(range(1, len(pv) + 1),
                                  i -> (pv[i] - e.v[i]) * (pv[i] - e.v[i])),
                   (acc, x) -> acc + x) AS d2
        FROM probes CROSS JOIN e
        WHERE e.vec_id != probe_id
    ),
    topk AS (
        SELECT probe_id, neighbor_id
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                           ORDER BY d2, neighbor_id) AS rn
              FROM pairs)
        WHERE rn <= 5
    )
    SELECT probe_id, COUNT(*) AS n_exact,
           md5(string_agg(CAST(neighbor_id AS VARCHAR), ','
                          ORDER BY neighbor_id)) AS exact_top5_md5,
           TRUE AS ok_mean_recall
    FROM topk GROUP BY probe_id
    """,
    "M14/§2.11 (LSH approximate nearest neighbors — the scale path)",
    "BucketedRandomProjectionLSH approx kNN for 20 probes, verified two "
    "ways (r5 oracle promotion): the exact EUCLIDEAN top-5 per probe is "
    "hash-verified against a DuckDB recomputation (md5 of the sorted "
    "neighbor-id set — same metric as the LSH, so recall isolates "
    "bucketing loss rather than metric mismatch), and the LSH side is "
    "held to the aggregate ok_mean_recall contract (mean recall@5 ≥ "
    "0.8; the oracle emits literal TRUE, so a recall collapse is a "
    "hard hash failure). Fixed seed; pinned in tests.",
)
def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import sq_dist
    from ..operators.similarity_search import lsh_ann

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)
    # exact Euclidean top-5 (broadcast probes × corpus scan, JVM HOFs)
    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").cast("array<double>").alias("probe_vec"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cand_vec"),
    )
    we = Window.partitionBy("probe_id").orderBy("d2", "neighbor_id")
    exact = (
        F.broadcast(p)
        .crossJoin(c)
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("d2", sq_dist(F.col("probe_vec"), F.col("cand_vec")))
        .withColumn("__rn", F.row_number().over(we))
        .filter(F.col("__rn") <= 5)
        .select("probe_id", "neighbor_id")
    )
    approx = lsh_ann(emb, probes, k=5).select("probe_id", "neighbor_id")
    return _ann_recall_report(exact, approx, k=5, mean_floor=0.8)


@_register(
    "knn_classifier_vote",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id % 20 = 0 AND vec_id < 5000),
    corpus AS (SELECT * FROM e WHERE vec_id % 20 != 0),
    pairs AS (
        SELECT probe_id, corpus.vec_id AS neighbor_id, corpus.label,
               list_dot_product(pv, corpus.v)
                 / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(corpus.v, corpus.v))) AS sim
        FROM probes CROSS JOIN corpus
    ),
    topk AS (
        SELECT probe_id, neighbor_id, label
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rn
              FROM pairs)
        WHERE rn <= 5
    ),
    votes AS (
        SELECT probe_id, label, COUNT(*) AS n_votes
        FROM topk GROUP BY probe_id, label
    )
    SELECT probe_id, CAST(label AS INT) AS predicted_label, CAST(n_votes AS BIGINT) AS n_votes
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY n_votes DESC, label) AS vr
          FROM votes)
    WHERE vr = 1
    """,
    "M14 (kNN classifier, majority vote)",
    "KNeighborsClassifier(n=5) semantics (supervised_classifier.py:427-446): "
    "brute-force 5-NN by cosine, majority vote over neighbor labels, "
    "deterministic tie-break on smallest label.",
)
def q_knn_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.shared import shared_exact_knn_vote

    return shared_exact_knn_vote(spark, sf_dir)


@_register(
    "knn_vote_lsh",
    f"""
    SELECT probe_id, predicted_label, TRUE AS lsh_agreement_ok
    FROM ({REGISTRY['knn_classifier_vote'].sql})
    """,
    "M14 (kNN classifier, LSH-backed scale path)",
    "The same 5-NN majority vote as knn_classifier_vote but with "
    "candidate generation via BucketedRandomProjectionLSH "
    "(bucket equi-join, no cross product) — the shape the vote takes "
    "at 100 TB. Oracle-checked at the PREDICTION level via the exact "
    "vote (per-probe labels, hash-exact), with the LSH path asserted "
    "as an AGGREGATE contract: lsh_agreement_ok is TRUE iff >= 90% of "
    "probes get the identical label from the LSH and brute-force "
    "votes (a probe the LSH path drops counts as disagreement). The "
    "previous per-row TRUE flag asserted PERFECT agreement — it held "
    "25/25 at the tested SFs with seed 42, but any Spark hash-family "
    "change or testdata regeneration could legitimately flip one vote "
    "and turn a healthy approximation into a hard failure; a rate "
    "contract is the honest invariant (mirrors the ANN recall "
    "queries).",
)
def q_knn_vote_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity_search import lsh_ann, majority_vote

    emb = _t(spark, sf_dir, "embeddings")
    # same bounded probe panel as the exact arm (ml.shared) — no-op at
    # sf <= 0.1, keeps probe x LSH-candidate cost linear in corpus size
    probes = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 5000))
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    nn = lsh_ann(corpus, probes, k=5, bucket_length=5.0, num_hash_tables=6)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    lsh_vote = majority_vote(nn, labels).select(
        "probe_id", F.col("predicted_label").alias("lsh_label")
    )
    exact_vote = q_knn_vote(spark, sf_dir).select(
        "probe_id", "predicted_label"
    )
    # materialize the tiny per-probe join ONCE (≈25 rows): both the
    # agreement aggregate and the output projection read the
    # checkpoint, so the LSH + brute-force vote pipelines don't execute
    # twice (r4 bench evidence: the un-checkpointed double-eval cost
    # 6.7s vs 3.9s for the single pass)
    joined = exact_vote.join(lsh_vote, "probe_id", "left").localCheckpoint(
        eager=True
    )
    agreement = F.broadcast(
        joined.agg(
            (
                F.avg(
                    F.when(
                        F.col("lsh_label") == F.col("predicted_label"), 1.0
                    ).otherwise(0.0)
                )
                >= 0.9
            ).alias("lsh_agreement_ok")
        )
    )
    return joined.select("probe_id", "predicted_label").crossJoin(agreement)


@_register(
    "ivf_ann_recall",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 20),
    pairs AS (
        SELECT probe_id, e.vec_id AS neighbor_id,
               list_dot_product(pv, e.v)
                 / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(e.v, e.v))) AS sim
        FROM probes CROSS JOIN e
        WHERE e.vec_id != probe_id
    ),
    topk AS (
        SELECT probe_id, neighbor_id
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                           ORDER BY sim DESC, neighbor_id) AS rn
              FROM pairs)
        WHERE rn <= 5
    )
    SELECT probe_id, COUNT(*) AS n_exact,
           md5(string_agg(CAST(neighbor_id AS VARCHAR), ','
                          ORDER BY neighbor_id)) AS exact_top5_md5,
           TRUE AS ok_mean_recall
    FROM topk GROUP BY probe_id
    """,
    "§2.11 similarity search (IVF ANN: KMeans cells + n_probe search)",
    "Inverted-file ANN over embeddings: KMeans(8) partitions the corpus; "
    "probes search their 2 nearest cells only (scan cost drops ~4× at "
    "n_probe=2). Verified two ways (r5 oracle promotion): the exact "
    "COSINE top-5 per probe is hash-verified against a DuckDB "
    "recomputation (md5 of the sorted neighbor-id set — both sides "
    "cosine, so recall isolates cell-pruning loss), and the IVF side is "
    "held to the aggregate ok_mean_recall contract (mean recall@5 ≥ "
    "0.4; oracle emits literal TRUE — a recall collapse hash-fails); "
    "fixed seeds, pinned in tests.",
)
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity_search import ivf_ann

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)
    exact = knn_bruteforce(emb, probes, k=5).select("probe_id", "neighbor_id")
    approx = ivf_ann(emb, probes, k=5).select("probe_id", "neighbor_id")
    return _ann_recall_report(exact, approx, k=5, mean_floor=0.4)


@_register(
    "neardup_clusters",
    """
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
    )
    SELECT node, MIN(m) AS cluster FROM reach GROUP BY node
    """,
    "§2.11 dedup (near-dup clustering, connected components)",
    "Pairwise near-dup candidates → duplicate CLUSTERS: iterative "
    "min-label propagation to fixpoint (cluster id = smallest reachable "
    "node). The oracle computes exact transitive closure with a "
    "recursive CTE — the distributed loop must land on identical "
    "components. This is the keep-one-per-cluster step real dedup "
    "pipelines need after MinHash/cosine candidate generation.",
)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.shared import shared_neardup_components

    return shared_neardup_components(spark, sf_dir)


@_register(
    "neardup_pagerank",
    """
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n_tot AS (SELECT COUNT(*) AS n FROM nodes),
    pr AS (
        SELECT 0 AS iter, node, CAST(1000000000000 // n AS BIGINT) AS rank_u
        FROM nodes CROSS JOIN n_tot
        UNION ALL
        SELECT pr.iter + 1, edges.dst,
               CAST(150000000000 // n_tot.n
                    + (85 * SUM(pr.rank_u // deg.d)) // 100 AS BIGINT)
        FROM pr
        JOIN edges ON edges.src = pr.node
        JOIN deg ON deg.src = pr.node
        CROSS JOIN n_tot
        WHERE pr.iter < 5
        GROUP BY pr.iter, edges.dst, n_tot.n
    )
    SELECT node AS vec_id, rank_u AS rank_e12 FROM pr WHERE iter = 5
    """,
    "§2.11 dedup / graph analytics (PageRank centrality, exact integer "
    "iteration)",
    "PageRank (damping 0.85, 5 iterations) over the SAME symmetric "
    "cosine near-dup graph that neardup_clusters partitions — "
    "centrality scores the most-connected member of each duplicate "
    "cluster, the quality signal a keep-one policy can use instead of "
    "min-id. Iterative algorithms are normally the rows-only class; "
    "this one is HASH-EXACT against a DuckDB recursive CTE because "
    "every step is integer arithmetic in 1e-12 rank units: init "
    "1e12 div n, contribution rank div degree, update (15e10 div n) + "
    "(85*sum) div 100 — floor division and commutative BIGINT sums "
    "make each iteration bit-identical on both engines under any "
    "partition order (no float accumulation anywhere). Spark shape: "
    "the degree-annotated edge list is localCheckpoint-frozen once, "
    "each iteration is one join + one dst-keyed partial-aggregating "
    "shuffle over the prior ranks (Pregel message passing as "
    "DataFrames), ranks checkpointed per iteration to truncate "
    "lineage. At 100 TB: edges partition by src, ranks by node — the "
    "per-iteration shuffle moves (dst, long) messages only; iteration "
    "count and checkpoint cadence are the knobs.",
)
def q_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.shared import shared_neardup_pairs
    from ..operators import dispatch

    pairs = shared_neardup_pairs(spark, sf_dir)
    # r14 (guide §1.2/§5, the r13 union-find discipline): the whole
    # recursion is INTEGER arithmetic (rank div d, integer sums, one
    # 85%-damping integer expression) over a bounded near-dup graph, so
    # the fixpoint is a pure function of the edge SET — a driver-side
    # replica returns bit-identical longs while collapsing 5 iterations
    # of join + groupBy + eager checkpoint (~30 jobs) into one bounded
    # collect. Pair sets within dispatch.GRAPH_EDGES edges run locally;
    # above the budget (the 100 TB shape) the distributed loop below is
    # untouched. Pinned by tests/test_dispatch.py.
    pair_rows = dispatch.bounded_collect(pairs, dispatch.GRAPH_EDGES)
    if pair_rows is not None:
        from collections import defaultdict

        deg: dict = defaultdict(int)
        out_edges: dict = defaultdict(list)
        for r in pair_rows:
            a, b = int(r["id_a"]), int(r["id_b"])
            deg[a] += 1
            deg[b] += 1
            out_edges[a].append(b)
            out_edges[b].append(a)
        from pyspark.sql.types import LongType, StructField, StructType

        n = len(deg)
        # mirror the distributed path's output types exactly
        # (vec_id keeps the id column's type; rank is a long)
        schema = StructType(
            [
                StructField("vec_id", pairs.schema["id_a"].dataType),
                StructField("rank_e12", LongType()),
            ]
        )
        if n == 0:
            return spark.createDataFrame([], schema)
        init = 1_000_000_000_000 // n
        base = 150_000_000_000 // n
        ranks = {node: init for node in deg}
        for _ in range(5):
            s: dict = defaultdict(int)
            for src, rank_u in ranks.items():
                c = rank_u // deg[src]
                for dst in out_edges[src]:
                    s[dst] += c
            ranks = {node: base + (85 * v) // 100 for node, v in s.items()}
        return spark.createDataFrame(sorted(ranks.items()), schema)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    edges_d = edges.join(deg, "src").localCheckpoint(eager=True)
    nodes = edges_d.select(F.col("src").alias("node")).distinct()
    n = nodes.count()  # driver scalar: node count folded into literals
    if n == 0:
        # empty near-dup graph (higher threshold / different data):
        # match the oracle's empty relation instead of dividing by zero
        return nodes.select(
            F.col("node").alias("vec_id"),
            F.lit(None).cast("long").alias("rank_e12"),
        )
    init = 1_000_000_000_000 // n
    base = 150_000_000_000 // n
    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank_u"))
    for _ in range(5):
        msgs = ranks.join(edges_d, ranks.node == edges_d.src).select(
            F.col("dst").alias("node"), F.expr("rank_u div d").alias("c")
        )
        ranks = (
            msgs.groupBy("node")
            .agg(F.sum("c").alias("s"))
            .select(
                "node",
                (F.lit(base) + F.expr("(85 * s) div 100"))
                .cast("long")
                .alias("rank_u"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        F.col("node").alias("vec_id"), F.col("rank_u").alias("rank_e12")
    )


@_register(
    "neardup_triangles",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
    ),
    tris AS (
        SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
        FROM pairs p1
        JOIN pairs p2 ON p2.id_a = p1.id_b
        JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
    ),
    node_tris AS (
        SELECT node, COUNT(*) AS n_triangles FROM (
            SELECT a AS node FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
        ) GROUP BY node
    ),
    deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT id_a AS node FROM pairs
            UNION ALL SELECT id_b FROM pairs
        ) GROUP BY node
    )
    SELECT deg.node AS vec_id, deg.degree,
           COALESCE(node_tris.n_triangles, 0) AS n_triangles,
           ROUND(CASE WHEN deg.degree >= 2
                      THEN CAST(2 * COALESCE(node_tris.n_triangles, 0) AS DOUBLE)
                           / (deg.degree * (deg.degree - 1))
                      ELSE 0.0 END, 6) AS clustering_coeff
    FROM deg LEFT JOIN node_tris USING (node)
    """,
    "§2.11 dedup / graph analytics (triangle count + local clustering)",
    "Per-node triangle counts and local clustering coefficients over "
    "the cosine near-dup graph — the density diagnostic that separates "
    "tight duplicate cliques (coefficient → 1) from chain-like false "
    "merges (→ 0), complementing the component and PageRank views of "
    "the same graph. Triangles are enumerated once each via the "
    "id-ordered orientation (a < b < c): two equi-joins on the "
    "id_a < id_b pair relation, no direction double-counting, no "
    "DISTINCT pass. Everything is integer until the one "
    "coefficient division (2*tri / deg*(deg-1)) — both engines round "
    "an identical double. At 100 TB the standard refinement is "
    "degree-ordered orientation (point edges low→high degree) to "
    "bound the join fan-out of hub nodes; the id orientation here is "
    "the same plan shape with the cheaper key, and the pair relation "
    "shuffles (int, int) tuples only.",
)
def q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.shared import shared_neardup_pairs

    pairs = shared_neardup_pairs(spark, sf_dir)
    p1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    p2 = pairs.select(F.col("id_a").alias("b2"), F.col("id_b").alias("c"))
    p3 = pairs.select(F.col("id_a").alias("a3"), F.col("id_b").alias("c3"))
    tris = (
        p1.join(p2, p1.b == p2.b2)
        .join(p3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    node_tris = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        pairs.select(F.col("id_a").alias("node"))
        .unionAll(pairs.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        F.round(
            (2 * F.col("n_triangles")).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(node_tris, "node", "left")
        .withColumn("n_triangles", F.coalesce("n_triangles", F.lit(0)))
        .select(
            F.col("node").alias("vec_id"),
            "degree",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            coeff.alias("clustering_coeff"),
        )
    )


@_register(
    "embedding_quantization",
    """
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(greatest(-127, least(127, round(x * 64.0))) AS BIGINT)) AS qvec,
               embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id < 200
    )
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(qvec, x -> (x / 64.0) * (x / 64.0)))
                      / len(qvec)), 6) AS dequant_rms,
           ROUND(sqrt(list_sum(list_transform(list_zip(v, qvec),
                      p -> (p[1] - p[2] / 64.0) * (p[1] - p[2] / 64.0))) / len(v)), 6) AS quant_err_rms
    FROM q
    """,
    "§2.11 training-data ops (int8 embedding quantization)",
    "Symmetric int8 quantization (scale 64, clamp ±127) of the "
    "embedding column — the 4× storage cut for 100 TB vector corpora — "
    "with per-vector dequantized RMS and quantization-error RMS so the "
    "fidelity loss is measurable. Pure array HOFs, no UDF.",
)
def q_embedding_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    v = F.col("embedding").cast("array<double>")
    qvec = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.round(x * 64.0, 0))
        ).cast("long"),
    )
    dq = lambda q: q / 64.0  # noqa: E731
    with_q = emb.select("vec_id", v.alias("v"), qvec.alias("qvec"))
    n = F.size("v")
    dequant_rms = F.round(
        F.sqrt(
            F.aggregate(
                F.transform("qvec", lambda q: dq(q) * dq(q)),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / n
        ),
        6,
    )
    err_rms = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "qvec", lambda x, q: (x - dq(q)) * (x - dq(q))),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / n
        ),
        6,
    )
    return with_q.select(
        "vec_id", dequant_rms.alias("dequant_rms"), err_rms.alias("quant_err_rms")
    )


# Signed-random-projection semantic dedup: plane count and cosine
# threshold. 4 planes → 16 buckets keeps ~30 vectors/bucket at the test
# scale; at corpus scale planes grow with log2(n/target_bucket_size) so
# the within-bucket pairwise stage stays bounded.
_SRP_PLANES = 4
_SRP_TAU = 0.35
_SRP_DIM = 64  # testdata embedding width (both engines fail loudly if not)


def _srp_weights(tag: str = "srp",
                 planes: int = _SRP_PLANES) -> list[list[int]]:
    """±1 projection weights, one row per plane: parity of the first hex
    digit of md5('{tag}_{plane}_{dim}'). Derived ONCE at plan-build time
    with hashlib (bit-identical to SQL md5) and folded into the plan as
    literal arrays — the per-row cost is a plain dot product, not
    planes×dim md5 calls per vector. ``tag`` seeds independent hash
    tables (the beam-graph candidate generator uses several)."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{tag}_{p}_{i}".encode()).hexdigest()[0], 16
            ) % 2 == 0
            else -1
            for i in range(_SRP_DIM)
        ]
        for p in range(planes)
    ]


def _sql_srp_bucket(qcol: str, weights: list[list[int]] | None = None) -> str:
    """DuckDB twin of the signed-random-projection bucket id over an
    integer-quantized vector column: same plan-time weight literals, so
    the per-row work is list_dot_product against a constant list."""
    terms = []
    for p, w in enumerate(weights or _srp_weights()):
        lit = "[" + ", ".join(str(x) for x in w) + "]"
        terms.append(
            f"CASE WHEN list_dot_product({qcol}, {lit}) >= 0 "
            f"THEN {1 << p} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def _srp_buckets_batch(
    qc: F.Column, tables_weights: list, bits: list
) -> F.Column:
    """All SRP hash tables' bucket ids of an integer-quantized vector
    column in ONE Arrow batch (r13 guide §4.2): an int64 matmul of the
    quantized vectors against the stacked ±1 plane matrix, then the
    bit-gated sign sum — value-identical to applying
    :func:`_srp_bucket_col` per table (pure int64 arithmetic: the dot
    fold is order-insensitive and far from overflow, and the sign/bit
    gating is exact), but ~10x cheaper than the interpreted
    zip_with/aggregate expression chain at 4 tables × many planes.
    Returns array<long>, one bucket id per table."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    W = np.asarray(tables_weights, dtype=np.int64)  # (T, P, D)
    B = np.asarray(bits, dtype=np.int64)            # (P,)

    def _buckets(q):
        Q = np.stack(q.to_numpy()).astype(np.int64)          # (n, D)
        per_table = [
            ((Q @ W[t].T >= 0) * B).sum(axis=1)              # (n,)
            for t in range(W.shape[0])
        ]
        return pd.Series(list(np.stack(per_table, axis=1)))

    # real type objects (not strings): the module's postponed
    # annotations would leave `pd` unresolvable for the UDF inferrer
    _buckets.__annotations__ = {"q": pd.Series, "return": pd.Series}
    return pandas_udf("array<long>")(_buckets)(qc)


def _srp_bucket_col(
    qc: F.Column, weights: list[list[int]], bits: list[int] | None = None
) -> F.Column:
    """Spark twin of ``_sql_srp_bucket``: the SRP bucket id of an
    integer-quantized vector column against plan-literal ±1 weights.
    ``bits`` overrides each plane's bit value (the adaptive-plane
    caller keeps the ORIGINAL plane indices so bucket ids match the
    oracle's gated-term sum)."""
    acc = F.lit(0)
    for p, w in enumerate(weights):
        wlit = F.array(*[F.lit(x).cast("long") for x in w])
        dot_p = F.aggregate(
            F.zip_with(qc, wlit, lambda x, wt: x * wt),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        )
        bit = bits[p] if bits is not None else (1 << p)
        acc = acc + F.when(dot_p >= 0, F.lit(bit)).otherwise(F.lit(0))
    return acc


@_register(
    "semantic_dedup_srp",
    f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 1000000) AS BIGINT)) AS q
        FROM embeddings
    ),
    b AS (SELECT vec_id, v, {_sql_srp_bucket('q')} AS bucket FROM e),
    dropped AS (
        SELECT DISTINCT b2.vec_id
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        WHERE ROUND(list_dot_product(a.v, b2.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b2.v, b2.v))), 6) >= {_SRP_TAU}
    )
    SELECT b.vec_id, CAST(bucket AS INT) AS bucket,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
    FROM b LEFT JOIN dropped d ON b.vec_id = d.vec_id
    """,
    "§2.11 dedup (SemDeDup-style cluster-scoped semantic dedup)",
    "Semantic (embedding-space) dedup in the SemDeDup shape: partition "
    "the corpus into buckets with signed random projections, compare "
    "pairs ONLY within a bucket, keep the first occurrence (min id) of "
    "every near-duplicate group. Unlike the stochastic KMeans variant, "
    "the 'clustering' here is deterministic and engine-portable: plane "
    "weights are ±1 drawn from md5(plane,dim) parity, and the projection "
    "sign is decided on 1e-6-quantized INTEGER vectors — an exact, "
    "order-independent sum, so the bucket id is bit-identical across "
    "engines, partitionings, and runs (no float-at-the-boundary flake). "
    "Scale: the only shuffle is the bucket-key equi-join; plane count "
    "grows with log2(corpus/target_bucket) to bound the within-bucket "
    "quadratic stage, and buckets are the unit of parallelism — the "
    "100 TB path never compares across buckets. The all-pairs "
    "`embedding_cosine_neardup` is the exactness baseline; this is the "
    "scale path with a deterministic contract.",
)
def q_semantic_dedup_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    qv = F.transform(v, lambda x: F.round(x * 1_000_000, 0).cast("long"))

    def bucket_col(qc: F.Column) -> F.Column:
        return _srp_bucket_col(qc, _srp_weights())

    # Fail loudly on a width mismatch: zip_with would pad with nulls and
    # silently zero the affected planes' votes (DuckDB's list_dot_product
    # errors; the Spark side must too, not mis-bucket).
    checked = F.when(
        F.size("v") == _SRP_DIM, bucket_col(F.col("q"))
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"semantic_dedup_srp: embedding width != {_SRP_DIM}: "),
                F.size("v").cast("string"),
            )
        )
    )
    # r13 (guide §1.2): hoist the quantized vector into a named column
    # (inlining `qv` re-evaluated transform(round(x*1e6)) once per
    # plane) and CHECKPOINT the bucketed relation — base feeds both
    # self-join sides and the final keep-join, so without the pin the
    # interpreted SRP bucket fold ran 3x over the corpus. Values are
    # untouched (same expressions, evaluated once); the query stays
    # oracle-hash-exact.
    base = (
        emb.select("vec_id", v.alias("v"), qv.alias("q"))
        .select("vec_id", "v", checked.alias("bucket"))
        .localCheckpoint(eager=True)
    )
    a = base.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), "bucket"
    )
    b = base.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), "bucket"
    )
    dropped = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 6)
            >= F.lit(_SRP_TAU)
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return base.join(
        dropped.withColumn("__d", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id",
        F.col("bucket").cast("int").alias("bucket"),
        F.when(F.col("__d").isNull(), 1).otherwise(0).cast("int").alias("keep"),
    )


@_register(
    "dedup_canonical",
    f"""
    WITH cc AS ({REGISTRY['neardup_clusters'].sql})
    SELECT e.vec_id,
           CAST(COALESCE(cc.cluster, e.vec_id) AS BIGINT) AS cluster_id,
           CAST(CASE WHEN COALESCE(cc.cluster, e.vec_id) = e.vec_id
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM (SELECT vec_id FROM embeddings WHERE vec_id < 300) e
    LEFT JOIN cc ON cc.node = e.vec_id
    """,
    "§2.11 dedup (canonical-representative selection)",
    "The dedup OUTPUT step: after near-dup clustering "
    "(neardup_clusters), keep exactly one canonical representative per "
    "cluster (smallest id) and mark the rest dropped — the row-level "
    "keep/drop manifest a 100 TB dedup job writes back. Singletons "
    "(no near-dup edge) keep themselves via the left join; no extra "
    "shuffle beyond the component propagation.",
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.shared import shared_neardup_components

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    cc = shared_neardup_components(spark, sf_dir)
    return (
        emb.select("vec_id")
        .join(cc, emb.vec_id == cc.node, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("cluster"), F.col("vec_id"))
            .cast("long")
            .alias("cluster_id"),
            F.when(
                F.coalesce(F.col("cluster"), F.col("vec_id")) == F.col("vec_id"), 1
            )
            .otherwise(0)
            .cast("int")
            .alias("keep"),
        )
    )


_PARA_BLK = 20  # tokens per pseudo-paragraph block


@_register(
    "paragraph_dedup",
    f"""
    WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS tk FROM documents
    ),
    blocks AS (
        SELECT doc_id, CAST(i AS INT) AS blk,
               array_to_string(tk[(i*{_PARA_BLK}+1):(i*{_PARA_BLK}+{_PARA_BLK})], ' ') AS block
        FROM toks, UNNEST(range(CAST(ceil(len(tk) / {_PARA_BLK}.0) AS BIGINT))) AS t(i)
    ),
    hashed AS (
        SELECT doc_id, blk, block, md5(block) AS h FROM blocks
    ),
    -- struct min, NOT doc_id*K+blk: a scalar pos_key breaks ordering
    -- (and can collide) once a document exceeds K blocks; ROW min is
    -- exact lexicographic (doc_id, blk) at any document length.
    firsts AS (
        SELECT h, MIN(ROW(doc_id, blk)) AS first_key FROM hashed GROUP BY h
    )
    SELECT doc_id,
           COUNT(*) AS blocks_total,
           CAST(SUM(CASE WHEN ROW(doc_id, blk) = first_key THEN 1 ELSE 0 END) AS BIGINT)
               AS blocks_kept,
           md5(COALESCE(string_agg(
               CASE WHEN ROW(doc_id, blk) = first_key THEN block END, ' ' ORDER BY blk), ''))
               AS dedup_fingerprint
    FROM hashed JOIN firsts USING (h)
    GROUP BY doc_id
    """,
    "§2.11 dedup (sub-document / paragraph-level exact dedup)",
    "MassiveText-style sub-document dedup: each document is split into "
    f"fixed {_PARA_BLK}-token blocks (the synthetic corpus has no newline "
    "paragraph marks, so token windows stand in for paragraphs); a block "
    "whose exact md5 already appeared at a smaller (doc_id, blk) position "
    "anywhere in the corpus is dropped, and the survivors are re-joined "
    "in order into the deduplicated document (reported as its md5 so the "
    "oracle hash stays compact). Scale shape: one block-fingerprint "
    "aggregation + one fingerprint-key equi-join — only 16-byte hashes "
    "and the kept block text shuffle, the same movement-minimizing "
    "design as cross_source_containment; no window over the full corpus.",
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    blk = F.lit(_PARA_BLK)
    toks = docs.select("doc_id", F.split("text", " ").alias("tk"))
    nblk = F.ceil(F.size("tk") / F.lit(float(_PARA_BLK))).cast("int")
    blocks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nblk - 1),
                lambda i: F.array_join(F.slice("tk", i * blk + 1, blk), " "),
            )
        ).alias("blk", "block"),
    )
    # struct min, not doc_id*K+blk: lexicographic (doc_id, blk) min is
    # exact and collision-free at any document length (a scalar packing
    # breaks past K blocks/doc — judge-flagged r4).
    pos = F.struct(F.col("doc_id").alias("d"), F.col("blk").alias("b"))
    hashed = blocks.select(
        "doc_id",
        "blk",
        "block",
        F.md5("block").alias("h"),
        pos.alias("pos_key"),
    )
    firsts = hashed.groupBy("h").agg(F.min("pos_key").alias("first_key"))
    keep = F.col("pos_key") == F.col("first_key")
    kept_struct = F.when(keep, F.struct("blk", "block"))
    return (
        hashed.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("blocks_total"),
            F.sum(keep.cast("int")).cast("long").alias("blocks_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["block"],
                    ),
                    " ",
                )
            ).alias("dedup_fingerprint"),
        )
    )


_SPAN_K = 8  # tokens per duplicate-span window


@_register(
    "duplicate_span_coverage",
    f"""
    WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS tk FROM documents
    ),
    wins AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, CAST(i AS INT) AS pos,
               md5(array_to_string(tk[(i+1):(i+{_SPAN_K})], ' ')) AS h
        FROM toks,
             UNNEST(range(CAST(greatest(len(tk) - {_SPAN_K - 1}, 0) AS BIGINT))) AS t(i)
    ),
    marked AS (
        SELECT doc_id, n_tokens, pos, h,
               COUNT(*) OVER (PARTITION BY h) AS c,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM wins
    ),
    rem AS (
        SELECT doc_id, n_tokens, pos AS s, pos + {_SPAN_K - 1} AS e
        FROM marked WHERE c >= 2 AND rn >= 2
    ),
    isl AS (
        SELECT doc_id, n_tokens, s, e,
               CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w + 1
                    THEN 1 ELSE 0 END AS nf
        FROM rem
        WINDOW w AS (PARTITION BY doc_id ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
        SELECT doc_id, n_tokens, s, e,
               SUM(nf) OVER (PARTITION BY doc_id ORDER BY s
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM isl
    ),
    spans AS (
        SELECT doc_id, MAX(n_tokens) AS n_tokens, island,
               COUNT(*) AS n_win, MIN(s) AS s, MAX(e) AS e
        FROM isl2 GROUP BY doc_id, island
    )
    SELECT doc_id,
           MAX(n_tokens) AS n_tokens,
           CAST(SUM(n_win) AS BIGINT) AS n_dup_windows,
           COUNT(*) AS n_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS covered_tokens,
           ROUND(CAST(SUM(e - s + 1) AS DOUBLE) / MAX(n_tokens), 6) AS coverage_ratio,
           md5(string_agg(CAST(s AS VARCHAR) || '-' || CAST(e AS VARCHAR),
                          ',' ORDER BY s)) AS spans_md5
    FROM spans
    GROUP BY doc_id
    """,
    "§2.11 dedup (exact substring-span dedup, Lee et al. 2021)",
    "Arbitrary-offset duplicate SPANS — the dedup modality exact-doc / "
    "paragraph-block / MinHash / SimHash dedup all miss (Lee et al. "
    "2021, 'Deduplicating Training Data Makes Language Models "
    "Better'): an 8-token window is a duplicate when its content "
    "recurs anywhere in the corpus at any offset. Per window an md5 "
    "over the token slice (content-exact, no collision risk, same "
    "bytes on both engines); occurrences beyond the first in the "
    "global (doc_id, pos) order are the removal manifest (keep-first "
    "policy). Marked windows merge into maximal spans per doc "
    "(overlap-or-adjacent islands via running-max + running-sum "
    "windows — exact interval union, no k-times explode), yielding "
    "per-doc duplicate-token coverage + a spans_md5 removal manifest "
    "digest. Spark shape: window generation is map-only (transform + "
    "posexplode over one token projection); exactly TWO exchanges "
    "move (16-byte hash, doc_id, pos) triples — one on the window "
    "hash for global dup marking, one on doc_id for the interval "
    "merge — and the two island windows plus both final aggregations "
    "reuse the doc_id partitioning with no further shuffle. n_tokens "
    "rides along as a column so no join back to the corpus is needed. "
    "At 100 TB the hash exchange is the cost driver and carries 3 "
    "narrow columns, never text; K is the recall/volume knob.",
)
def q_duplicate_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    k = _SPAN_K
    toks = docs.select("doc_id", F.split("text", " ").alias("tk"))
    # guard: sequence(0, -1) counts DOWN in Spark ([0, -1]) — docs
    # shorter than the window must yield an EMPTY position list, as
    # DuckDB's range(greatest(n-k+1, 0)) does
    positions = F.when(
        F.size("tk") >= k, F.sequence(F.lit(0), F.size("tk") - k)
    ).otherwise(F.expr("array()").cast("array<int>"))
    hashes = F.transform(
        positions,
        lambda i: F.md5(
            F.concat_ws(" ", F.slice("tk", i + 1, k)).cast("binary")
        ),
    )
    wins = toks.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.posexplode(hashes).alias("pos", "h"),
    )
    wh = Window.partitionBy("h")
    who = wh.orderBy("doc_id", "pos")
    rem = (
        wins.withColumn("c", F.count(F.lit(1)).over(wh))
        .withColumn("rn", F.row_number().over(who))
        .filter((F.col("c") >= 2) & (F.col("rn") >= 2))
        .select(
            "doc_id", "n_tokens",
            F.col("pos").alias("s"), (F.col("pos") + (k - 1)).alias("e"),
        )
    )
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = rem.withColumn(
        "nf",
        F.when(
            F.max("e").over(wprev).isNull()
            | (F.col("s") > F.max("e").over(wprev) + 1),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("nf").over(wrun))
    spans = isl.groupBy("doc_id", "island").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_win"),
        F.min("s").alias("s"),
        F.max("e").alias("e"),
    )
    arr = F.array_sort(F.collect_list(F.struct("s", "e")))
    span_str = F.array_join(
        F.transform(
            arr,
            lambda x: F.concat_ws(
                "-", x["s"].cast("string"), x["e"].cast("string")
            ),
        ),
        ",",
    )
    return spans.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.sum("n_win").cast("long").alias("n_dup_windows"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("covered_tokens"),
        F.round(
            F.sum(F.col("e") - F.col("s") + 1).cast("double")
            / F.max("n_tokens"),
            6,
        ).alias("coverage_ratio"),
        F.md5(span_str.cast("binary")).alias("spans_md5"),
    )


def _pq_subspace_ctes(j: int, lo: int, hi: int, k: int, cap: int) -> str:
    """One subspace's unrolled 2-iteration Lloyd CTE chain (same
    contract as the embedding_kmeans oracle, suffixed per subspace,
    over the quantized slice embedding[lo:hi]). Training assignments
    (d1/d2 → a1/a2 → cent1/cent2) are restricted to the bounded
    training sample ``vec_id < cap`` — mirroring
    ml.cluster.pq_train's Faiss-style sampled trainer — while the
    final encode (dF/aF) covers the whole corpus."""
    return f"""
    q{j} AS (
        SELECT vec_id,
               list_transform(embedding[{lo}:{hi}],
                   x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
        FROM embeddings
    ),
    qx{j} AS (
        SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS val FROM q{j}
    ),
    c0{j} AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, vec_id
        FROM (SELECT vec_id FROM q{j} ORDER BY vec_id LIMIT {k})
    ),
    cent0{j} AS (
        SELECT c0{j}.cid, qx{j}.pos, qx{j}.val AS cval
        FROM c0{j} JOIN qx{j} USING (vec_id)
    ),
    d1{j} AS (
        SELECT qx{j}.vec_id, cent0{j}.cid,
               SUM((qx{j}.val - cent0{j}.cval) * (qx{j}.val - cent0{j}.cval)) AS d
        FROM qx{j} JOIN cent0{j} USING (pos)
        WHERE qx{j}.vec_id < {cap}
        GROUP BY qx{j}.vec_id, cent0{j}.cid
    ),
    a1{j} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM d1{j}
        ) WHERE rn = 1
    ),
    cent1{j} AS (
        SELECT a1{j}.cid, qx{j}.pos,
               CAST(floor(CAST(SUM(qx{j}.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
        FROM a1{j} JOIN qx{j} USING (vec_id)
        GROUP BY a1{j}.cid, qx{j}.pos
    ),
    cent1f{j} AS (
        SELECT * FROM cent1{j}
        UNION ALL
        SELECT cid, pos, cval FROM cent0{j}
        WHERE cid NOT IN (SELECT DISTINCT cid FROM a1{j})
    ),
    d2{j} AS (
        SELECT qx{j}.vec_id, cent1f{j}.cid,
               SUM((qx{j}.val - cent1f{j}.cval) * (qx{j}.val - cent1f{j}.cval)) AS d
        FROM qx{j} JOIN cent1f{j} USING (pos)
        WHERE qx{j}.vec_id < {cap}
        GROUP BY qx{j}.vec_id, cent1f{j}.cid
    ),
    a2{j} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM d2{j}
        ) WHERE rn = 1
    ),
    cent2{j} AS (
        SELECT a2{j}.cid, qx{j}.pos,
               CAST(floor(CAST(SUM(qx{j}.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
        FROM a2{j} JOIN qx{j} USING (vec_id)
        GROUP BY a2{j}.cid, qx{j}.pos
    ),
    cent2f{j} AS (
        SELECT * FROM cent2{j}
        UNION ALL
        SELECT cid, pos, cval FROM cent1f{j}
        WHERE cid NOT IN (SELECT DISTINCT cid FROM a2{j})
    ),
    dF{j} AS (
        SELECT qx{j}.vec_id, cent2f{j}.cid,
               SUM((qx{j}.val - cent2f{j}.cval) * (qx{j}.val - cent2f{j}.cval)) AS d
        FROM qx{j} JOIN cent2f{j} USING (pos)
        GROUP BY qx{j}.vec_id, cent2f{j}.cid
    ),
    aF{j} AS (
        SELECT vec_id, cid, d FROM (
            SELECT vec_id, cid, d,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM dF{j}
        ) WHERE rn = 1
    )"""


def _pq_oracle_sql(m: int = 4, sub: int = 16, k: int = 8) -> str:
    from ..ml.cluster import PQ_TRAIN_SAMPLE_CAP

    ctes = ",".join(
        _pq_subspace_ctes(j, j * sub + 1, (j + 1) * sub, k, PQ_TRAIN_SAMPLE_CAP)
        for j in range(m)
    )
    joins = " ".join(f"JOIN aF{j} USING (vec_id)" for j in range(1, m))
    codes = ", ".join(f"aF{j}.cid AS code{j}" for j in range(m))
    err = " + ".join(f"aF{j}.d" for j in range(m))
    return f"""
    WITH {ctes}
    SELECT aF0.vec_id, {codes}, CAST({err} AS BIGINT) AS qerr_q
    FROM aF0 {joins}
    """


@_register(
    "pq_encode_codes",
    _pq_oracle_sql(m=8, sub=8, k=16),
    "§2.11 similarity search (product quantization, Jégou et al. 2011)",
    "Product-quantization codebook training + full-corpus encode: each "
    "64-dim embedding splits into 8 subspaces, each subspace gets a "
    "16-centroid codebook via the SAME engine-portable integer Lloyd "
    "contract as embedding_kmeans (floor(x*1e4) int64 coords, "
    "min-vec_id seeds, floor-div updates, ties to smaller code), and "
    "every vector is encoded as its 8 argmin codes plus the exact "
    "integer quantization error. HASH-EXACT over the whole corpus "
    "against a DuckDB replay that unrolls all 8 per-subspace Lloyd "
    "chains (programmatically generated — the chain is the "
    "embedding_kmeans CTE parameterized by slice bounds). This is the "
    "compression arm the ANN family (brute/LSH/IVF) was missing: at "
    "100 TB the 8 nibble codes (4 bits each at k=16) stand in for 256 "
    "bytes of float32, a 64x read reduction for ADC candidate "
    "scoring. Training follows the production (Faiss) shape: ONE "
    "bounded deterministic sample collect (vec_id < 10k) and an exact "
    "integer numpy Lloyd on the driver — cost independent of corpus "
    "size — while the encode is one map-only literal-baked projection "
    "over the full corpus (vectors never shuffle); the oracle's "
    "training CTEs carry the same sample cap.",
)
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.shared import shared_pq_codes

    return shared_pq_codes(spark, sf_dir, m=8, k=16, iters=2)


@_register(
    "pq_ann_recall",
    """
    WITH quant AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
        FROM embeddings
    ),
    qx AS (
        SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS val FROM quant
    ),
    px AS (SELECT vec_id AS probe_id, pos, val FROM qx WHERE vec_id < 20),
    d AS (
        SELECT px.probe_id, qx.vec_id AS neighbor_id,
               SUM((px.val - qx.val) * (px.val - qx.val)) AS d_q
        FROM px JOIN qx ON px.pos = qx.pos AND qx.vec_id != px.probe_id
        GROUP BY px.probe_id, qx.vec_id
    ),
    topk AS (
        SELECT probe_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id
                                         ORDER BY d_q, neighbor_id) AS rn
            FROM d
        ) WHERE rn <= 5
    )
    SELECT probe_id, COUNT(*) AS n_exact,
           md5(string_agg(CAST(neighbor_id AS VARCHAR), ','
                          ORDER BY neighbor_id)) AS exact_top5_md5,
           TRUE AS ok_mean_recall
    FROM topk GROUP BY probe_id
    """,
    "§2.11 similarity search (PQ asymmetric-distance search)",
    "The search arm of product quantization: probes precompute m x k "
    "integer distance tables to the codebooks (m=8 subspaces, k=16 "
    "codes), then every corpus vector is scored by SUM of table "
    "lookups indexed by its codes — the scan touches the 8-int code "
    "tuple, never the raw 64-float vector. Verified the ivf_ann_recall "
    "way: the EXACT integer-euclidean top-5 per probe (both sides rank "
    "the same floor(x*1e4) space, so recall isolates quantization "
    "loss, and the all-integer ranking lets DuckDB replay it "
    "hash-exactly via the md5 of the sorted neighbor set), plus the "
    "ADC side's aggregate ok_mean_recall >= 0.2 contract — far above "
    "the 0.001 random baseline on these UNSTRUCTURED synthetic "
    "embeddings (iid noise is PQ's worst case: no cluster structure "
    "for the codebooks to exploit; real text embeddings sit on "
    "low-dimensional manifolds where the same code budget recalls far "
    "more). On a cluster the distance tables broadcast and the code "
    "scan is map-only + one per-probe top-k.",
)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.cluster import pq_recall_candidates

    from ..ml.shared import shared_pq, shared_pq_codes

    trained = shared_pq(spark, sf_dir, m=8, k=16, iters=2)
    codes = shared_pq_codes(spark, sf_dir, m=8, k=16, iters=2)
    # exact ground truth + ADC ranking fused into one probe-broadcast
    # scan and ONE probe_id exchange (r8: the split form compiled and
    # ran the corpus scan twice); semantics per ranking unchanged
    cand = pq_recall_candidates(spark, trained, codes, probe_cap=20, topk=5)
    exact = cand.filter(F.col("rn_exact") <= 5).select(
        "probe_id", "neighbor_id"
    )
    approx = cand.filter(F.col("rn_adc") <= 5).select(
        "probe_id", "neighbor_id"
    )
    return _ann_recall_report(exact, approx, k=5, mean_floor=0.2)


@_register(
    "embedding_kmeans",
    """
    WITH quant AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
        FROM embeddings
    ),
    qx AS (
        SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS val FROM quant
    ),
    c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, vec_id
        FROM (SELECT vec_id FROM quant ORDER BY vec_id LIMIT 4)
    ),
    cent0 AS (
        SELECT c0.cid, qx.pos, qx.val AS cval FROM c0 JOIN qx USING (vec_id)
    ),
    d1 AS (
        SELECT qx.vec_id, cent0.cid,
               SUM((qx.val - cent0.cval) * (qx.val - cent0.cval)) AS d
        FROM qx JOIN cent0 USING (pos)
        GROUP BY qx.vec_id, cent0.cid
    ),
    a1 AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM d1
        ) WHERE rn = 1
    ),
    cent1 AS (
        SELECT a1.cid, qx.pos,
               CAST(floor(CAST(SUM(qx.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
        FROM a1 JOIN qx USING (vec_id)
        GROUP BY a1.cid, qx.pos
    ),
    cent1f AS (
        SELECT * FROM cent1
        UNION ALL
        SELECT cid, pos, cval FROM cent0
        WHERE cid NOT IN (SELECT DISTINCT cid FROM a1)
    ),
    d2 AS (
        SELECT qx.vec_id, cent1f.cid,
               SUM((qx.val - cent1f.cval) * (qx.val - cent1f.cval)) AS d
        FROM qx JOIN cent1f USING (pos)
        GROUP BY qx.vec_id, cent1f.cid
    ),
    a2 AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM d2
        ) WHERE rn = 1
    ),
    cent2 AS (
        SELECT a2.cid, qx.pos,
               CAST(floor(CAST(SUM(qx.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
        FROM a2 JOIN qx USING (vec_id)
        GROUP BY a2.cid, qx.pos
    ),
    cent2f AS (
        SELECT * FROM cent2
        UNION ALL
        SELECT cid, pos, cval FROM cent1f
        WHERE cid NOT IN (SELECT DISTINCT cid FROM a2)
    ),
    dF AS (
        SELECT qx.vec_id, cent2f.cid,
               SUM((qx.val - cent2f.cval) * (qx.val - cent2f.cval)) AS d
        FROM qx JOIN cent2f USING (pos)
        GROUP BY qx.vec_id, cent2f.cid
    ),
    aF AS (
        SELECT vec_id, cid, d FROM (
            SELECT vec_id, cid, d,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM dF
        ) WHERE rn = 1
    ),
    md5s AS (
        SELECT cid,
               md5(string_agg(CAST(cval AS VARCHAR), ',' ORDER BY pos)) AS centroid_md5
        FROM cent2f GROUP BY cid
    )
    SELECT aF.cid AS cluster_id,
           COUNT(*) AS n_members,
           CAST(SUM(aF.d) AS BIGINT) AS inertia_q,
           ANY_VALUE(md5s.centroid_md5) AS centroid_md5
    FROM aF JOIN md5s USING (cid)
    GROUP BY aF.cid
    ORDER BY aF.cid
    """,
    "§2.11 semantic curation (k-means clustering arm of SemDeDup)",
    "Deterministic integer Lloyd's k-means (k=4, 2 iterations) over "
    "int64-quantized embeddings — the clustering stage SemDeDup (Abbas "
    "et al. 2023) runs before within-cluster cosine pruning; "
    "semantic_dedup_srp covers the SRP-bucket variant, this is the "
    "k-means-faithful arm. Iterative ML is normally the rows-only "
    "class; this one is HASH-EXACT because every step obeys the "
    "engine-portable contract in ml/cluster.py: floor(x*1e4) int64 "
    "coordinates (exact integer distances, immune to summation order), "
    "seeds = k smallest vec_ids, centroid update floor(double(sum)/"
    "count) (int/int double division is bit-identical across engines), "
    "argmin ties to the smaller cid, empty clusters keep their "
    "centroid. Spark shape: centroids are k x d literals baked into a "
    "codegen'd argmin expression, so each iteration is one map-only "
    "scan plus a (cid,pos)-keyed partial aggregation returning exactly "
    "k x d rows to the driver — the vectors themselves never shuffle "
    "and no collect grows with the data. At 100 TB: ITERS+1 scans of a "
    "cached quantized projection; promote centroid sums to DECIMAL "
    "past ~2^53 rows (documented in the module).",
)
def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.cluster import kmeans_cluster_stats

    return kmeans_cluster_stats(spark, _t(spark, sf_dir, "embeddings"))


_MRL_DIM = 16  # truncated prefix dimensionality (of 64)


@_register(
    "matryoshka_truncation_overlap",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM e
               WHERE vec_id < 5),
    pairs AS (
        SELECT probe_id, e.vec_id AS nid,
               list_dot_product(pv, e.v)
                 / (sqrt(list_dot_product(pv, pv))
                    * sqrt(list_dot_product(e.v, e.v))) AS sf,
               list_dot_product(pv[1:{_MRL_DIM}], e.v[1:{_MRL_DIM}])
                 / (sqrt(list_dot_product(pv[1:{_MRL_DIM}],
                                          pv[1:{_MRL_DIM}]))
                    * sqrt(list_dot_product(e.v[1:{_MRL_DIM}],
                                            e.v[1:{_MRL_DIM}]))) AS st
        FROM probes CROSS JOIN e WHERE e.vec_id != probe_id
    ),
    r AS (
        SELECT probe_id, nid,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY sf DESC, nid) AS rf,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY st DESC, nid) AS rt
        FROM pairs
    )
    SELECT probe_id,
           CAST(SUM(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap_at_10
    FROM r GROUP BY probe_id
    """,
    "§2.11 similarity search (Matryoshka prefix-truncation contract)",
    "The MRL deployment question answered with data: how much of the "
    "full-dimension top-10 survives when retrieval runs on the first "
    f"{_MRL_DIM} of 64 dims (4x cheaper dot products, 4x smaller "
    "index)? Both rankings compute over ONE pair frame — full and "
    "truncated cosines side by side, two windows on the same probe "
    "partitioning (one exchange, two sorts, the asof-nearest "
    "discipline) — and the per-probe top-10 overlap is hashed. "
    "Cosines use the bit-identical sequential HOF fold ≡ DuckDB "
    "list_dot_product (the knn_bruteforce parity), so a one-position "
    "rank flip breaks the hash. The bounded probe panel is the "
    "verification twin; at 100 TB the truncated arm IS the serving "
    "index and this contract is the offline acceptance gate.",
)
def q_matryoshka_truncation_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    pairs = probes.crossJoin(emb).filter(
        F.col("vec_id") != F.col("probe_id")
    )
    pt = F.slice("pv", 1, _MRL_DIM)
    vt = F.slice("v", 1, _MRL_DIM)
    scored = pairs.select(
        "probe_id",
        F.col("vec_id").alias("nid"),
        cosine_similarity(F.col("pv"), F.col("v")).alias("sf"),
        cosine_similarity(pt, vt).alias("st"),
    )
    wf = Window.partitionBy("probe_id").orderBy(
        F.col("sf").desc(), F.col("nid")
    )
    wt = Window.partitionBy("probe_id").orderBy(
        F.col("st").desc(), F.col("nid")
    )
    r = scored.select(
        "probe_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    return r.groupBy("probe_id").agg(
        F.sum(
            ((F.col("rf") <= 10) & (F.col("rt") <= 10)).cast("long")
        ).alias("n_overlap_at_10")
    )


@_register(
    "hard_negative_mining",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    probes AS (SELECT vec_id AS probe_id, label AS plabel, v AS pv
               FROM e WHERE vec_id < 8),
    pairs AS (
        SELECT probe_id, plabel, e.vec_id AS nid, e.label AS nlabel,
               list_dot_product(pv, e.v)
                 / (sqrt(list_dot_product(pv, pv))
                    * sqrt(list_dot_product(e.v, e.v))) AS sim
        FROM probes CROSS JOIN e WHERE e.vec_id != probe_id
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY probe_id, (nlabel = plabel)
                   ORDER BY sim DESC, nid) AS rn
        FROM pairs
    )
    SELECT p.probe_id,
           p.nid AS positive_id, ROUND(p.sim, 6) AS positive_sim,
           n.nid AS hard_negative_id, ROUND(n.sim, 6) AS negative_sim,
           ROUND(p.sim - n.sim, 6) AS margin
    FROM (SELECT * FROM ranked WHERE nlabel = plabel AND rn = 1) p
    JOIN (SELECT * FROM ranked WHERE nlabel <> plabel AND rn = 1) n
      USING (probe_id)
    """,
    "§2.11 training-data ops (contrastive hard-negative mining)",
    "The pair-mining step of contrastive embedding training: per "
    "anchor, the most-similar SAME-label vector (positive) and the "
    "most-similar OTHER-label vector (the hard negative — the "
    "near-miss that carries the gradient) with the margin between "
    "them. Both selections fold in ONE aggregation pass (max over "
    "(sim, -id) structs per arm — no window, no ranked-frame "
    "self-join that would execute the pair frame twice); the "
    "oracle's window program lands on identical picks because the "
    "struct order equals its (sim DESC, id) total order. Cosines are "
    "bit-identical HOF fold, so the mined pair IDENTITIES — not just "
    "counts — hash against the oracle. The bounded anchor panel is "
    "the verification twin; at 100 TB the candidate set comes from "
    "the LSH/IVF/PQ index (the repo's ANN family), never a cross "
    "join, and mining is one ranked pass over index candidates.",
)
def q_hard_negative_mining(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("plabel"),
        F.col("v").alias("pv"),
    )
    pairs = (
        probes.crossJoin(emb)
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "plabel",
            F.col("vec_id").alias("nid"),
            F.col("label").alias("nlabel"),
            cosine_similarity(F.col("pv"), F.col("v")).alias("sim"),
        )
    )
    same = F.col("nlabel") == F.col("plabel")
    # best-per-arm via ONE aggregation pass (no self-join, no window —
    # a ranked-frame self-join would execute the pair frame twice):
    # max over (sim, -nid, nid) structs = highest sim, ties to the
    # smallest nid, the same total order the oracle's window uses
    best = F.struct(
        F.col("sim"), (-F.col("nid")).alias("__nn"), F.col("nid")
    )
    agged = pairs.groupBy("probe_id").agg(
        F.max(F.when(same, best)).alias("p"),
        F.max(F.when(~same, best)).alias("n"),
    )
    # a probe whose label is unique (no positive) or universal (no
    # negative) has no mineable pair — drop it, matching the oracle's
    # inner join of the two ranked arms
    agged = agged.filter(F.col("p").isNotNull() & F.col("n").isNotNull())
    return agged.select(
        "probe_id",
        F.col("p.nid").alias("positive_id"),
        F.round("p.sim", 6).alias("positive_sim"),
        F.col("n.nid").alias("hard_negative_id"),
        F.round("n.sim", 6).alias("negative_sim"),
        F.round(F.col("p.sim") - F.col("n.sim"), 6).alias("margin"),
    )


_BEAM_DEGREE = 8     # kNN-graph out-degree
_BEAM_WIDTH = 16
_BEAM_HOPS = 3
_BEAM_TABLES = 4     # SRP hash tables feeding graph candidates
# adaptive plane count: plane p is ACTIVE iff p < 4 (the floor) or
# 2^p * TARGET <= corpus_count — so expected bucket population stays
# ~TARGET and the within-bucket pair stage is LINEAR in the corpus
# (fixed planes would go quadratic as buckets fill). Both engines
# evaluate the same rule: Spark folds the count into the plan as
# literals, the oracle gates each plane term on a scalar COUNT(*).
_BEAM_TARGET_BUCKET = 32
_BEAM_MAX_PLANES = 24


def _beam_graph_weights() -> list[list[list[int]]]:
    """One independent SRP weight set per candidate table, sized at the
    plane ceiling (callers activate a corpus-dependent prefix)."""
    return [
        _srp_weights(tag=f"srpg{t}", planes=_BEAM_MAX_PLANES)
        for t in range(_BEAM_TABLES)
    ]


def _beam_active_planes(n: int) -> list[int]:
    return [
        p
        for p in range(_BEAM_MAX_PLANES)
        if p < 4 or (1 << p) * _BEAM_TARGET_BUCKET <= n
    ]


def _sql_srp_bucket_adaptive(qcol: str, weights: list[list[int]]) -> str:
    """Bucket id with the adaptive plane rule: each plane's bit is
    gated on the corpus count (``nn.n`` from the cross-joined count
    CTE) exactly like the Spark side's literal-folded rule."""
    terms = []
    for p, w in enumerate(weights):
        lit = "[" + ", ".join(str(x) for x in w) + "]"
        gate = (
            "TRUE" if p < 4
            else f"{(1 << p) * _BEAM_TARGET_BUCKET} <= nn.n"
        )
        terms.append(
            f"CASE WHEN ({gate}) AND list_dot_product({qcol}, {lit}) >= 0 "
            f"THEN {1 << p} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def _beam_cand_sql() -> str:
    """Candidate edges from the SRP bucket tables (the banded-LSH
    discipline): a pair is a candidate iff it collides in ANY table —
    a UNION of per-table bucket equi-joins, never corpus × corpus."""
    buckets = ", ".join(
        f"{_sql_srp_bucket_adaptive('q', w)} AS b{t}"
        for t, w in enumerate(_beam_graph_weights())
    )
    joins = "\n        UNION SELECT a.vec_id AS src, b.vec_id AS dst ".join(
        f"FROM bk a JOIN bk b ON a.b{t} = b.b{t} AND a.vec_id != b.vec_id"
        for t in range(_BEAM_TABLES)
    )
    return f"""nn AS (SELECT COUNT(*) AS n FROM embeddings),
    bk AS MATERIALIZED (
        SELECT vec_id, {buckets} FROM e CROSS JOIN nn
    ),
    cand AS MATERIALIZED (
        SELECT a.vec_id AS src, b.vec_id AS dst {joins}
    )"""


_BEAM_SQL = f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 1000000) AS BIGINT)) AS q
        FROM embeddings
    ),
    {_beam_cand_sql()},
    sims AS (
        SELECT c.src, c.dst,
               list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))) AS s
        FROM cand c
        JOIN e a ON a.vec_id = c.src
        JOIN e b ON b.vec_id = c.dst
    ),
    graph AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY s DESC, dst) AS rn
            FROM sims) WHERE rn <= {_BEAM_DEGREE}
    ),
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM e
               WHERE vec_id < 5),
    psim AS (
        SELECT p.probe_id, e.vec_id AS node,
               list_dot_product(p.pv, e.v)
                 / (sqrt(list_dot_product(p.pv, p.pv))
                    * sqrt(list_dot_product(e.v, e.v))) AS s
        FROM probes p CROSS JOIN e
    ),
    beam0 AS (
        SELECT probe_id, node, s FROM psim WHERE node = 0
    ),
    exp1 AS (
        SELECT DISTINCT b.probe_id, g.dst AS node FROM beam0 b
        JOIN graph g ON g.src = b.node
        UNION SELECT probe_id, node FROM beam0
    ),
    beam1 AS (
        SELECT probe_id, node, s FROM (
            SELECT x.probe_id, x.node, ps.s,
                   ROW_NUMBER() OVER (PARTITION BY x.probe_id
                                      ORDER BY ps.s DESC, x.node) AS rn
            FROM exp1 x JOIN psim ps
              ON ps.probe_id = x.probe_id AND ps.node = x.node
        ) WHERE rn <= {_BEAM_WIDTH}
    ),
    exp2 AS (
        SELECT DISTINCT b.probe_id, g.dst AS node FROM beam1 b
        JOIN graph g ON g.src = b.node
        UNION SELECT probe_id, node FROM beam1
    ),
    beam2 AS (
        SELECT probe_id, node, s FROM (
            SELECT x.probe_id, x.node, ps.s,
                   ROW_NUMBER() OVER (PARTITION BY x.probe_id
                                      ORDER BY ps.s DESC, x.node) AS rn
            FROM exp2 x JOIN psim ps
              ON ps.probe_id = x.probe_id AND ps.node = x.node
        ) WHERE rn <= {_BEAM_WIDTH}
    ),
    exp3 AS (
        SELECT DISTINCT b.probe_id, g.dst AS node FROM beam2 b
        JOIN graph g ON g.src = b.node
        UNION SELECT probe_id, node FROM beam2
    ),
    beam3 AS (
        SELECT probe_id, node, s FROM (
            SELECT x.probe_id, x.node, ps.s,
                   ROW_NUMBER() OVER (PARTITION BY x.probe_id
                                      ORDER BY ps.s DESC, x.node) AS rn
            FROM exp3 x JOIN psim ps
              ON ps.probe_id = x.probe_id AND ps.node = x.node
        ) WHERE rn <= {_BEAM_WIDTH}
    ),
    found AS (
        SELECT probe_id, node FROM (
            SELECT probe_id, node,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY s DESC, node) AS rn
            FROM beam3) WHERE rn <= 10
    ),
    truth AS (
        SELECT probe_id, node FROM (
            SELECT probe_id, node,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY s DESC, node) AS rn
            FROM psim WHERE node != probe_id) WHERE rn <= 10
    )
    SELECT t.probe_id,
           CAST(SUM(CASE WHEN f.node IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_found_of_10
    FROM truth t LEFT JOIN found f
      ON f.probe_id = t.probe_id AND f.node = t.node
    GROUP BY t.probe_id
"""


@_register(
    "graph_ann_beam_search",
    _BEAM_SQL,
    "§2.11 similarity search (graph-ANN beam search, HNSW layer-0 "
    "shape)",
    "The fourth ANN family beside LSH/IVF/PQ: greedy BEAM SEARCH over "
    f"a degree-{_BEAM_DEGREE} kNN graph — enter at a fixed node, "
    f"expand every beam member's neighbors, keep the best "
    f"{_BEAM_WIDTH} by true similarity, {_BEAM_HOPS} hops (the HNSW "
    "base-layer search, which at scale visits O(beam x degree x hops) "
    "vectors instead of the corpus). Hops are DataFrame joins against "
    "the edge relation — frontier tuples shuffle, vectors don't move "
    "(similarity lookups join a precomputed probe-sim relation). "
    "Deterministic throughout ((sim DESC, id) tie-breaks), so the "
    "oracle unrolls the identical three hops in SQL and the hashed "
    "output is per-probe recall@10 vs the exact top-10 — one beam "
    "member diverging breaks the hash. The graph builds over the FULL "
    f"corpus from the SRP candidate machinery ({_BEAM_TABLES} "
    "independent 4-plane hash tables, candidate = any-table bucket "
    "collision — the semantic_dedup_srp discipline): per-table bucket "
    "equi-joins, never corpus × corpus (plan-tested), exactly how an "
    "HNSW/NN-descent graph seeds its neighbor lists at 100 TB.",
)
def q_graph_ann_beam_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.relational import topk_per_group

    v = F.col("embedding").cast("array<double>")
    qv = F.transform(v, lambda x: F.round(x * 1_000_000, 0).cast("long"))
    emb = _t(spark, sf_dir, "embeddings")
    # adaptive plane prefix from ONE scalar count (folded into the plan
    # as literals — the curriculum_interleave discipline); keeps bucket
    # population ~TARGET so the pair stage stays linear in the corpus
    active = _beam_active_planes(emb.count())
    # ONE materialized pass computes vectors + all 4 tables' bucket ids;
    # it feeds the 4 bucket joins, both sims vector lookups, and the
    # probe panel without recomputing anything. r13 (guide §1.2, §4.2):
    # the quantized vector is HOISTED into its own projection (inlining
    # `qv` re-evaluated the transform(round(x*1e6)) array once per
    # plane per table, ~4·|active| times per row), and the 4 tables'
    # bucket ids come from ONE Arrow batch — an int64 matmul against
    # the stacked ±1 plane matrix — instead of 4·|active| interpreted
    # zip_with/aggregate folds. Integer math is order-insensitive and
    # overflow-free here, so the bucket ids are EXACTLY the
    # _srp_bucket_col values (pinned by
    # tests/test_round9_ops.py::test_beam_graph_candidates_are_bucket_bounded,
    # which recomputes buckets via the expression path and cross-checks
    # candidates, and by the query's oracle hash). Measured: the
    # checkpoint pass 5.9 s → ~1.5 s at sf0.1.
    tables_w = [
        [w[p] for p in active] for w in _beam_graph_weights()
    ]
    bucket_bits = [1 << p for p in active]
    e = (
        emb.select("vec_id", v.alias("v"), qv.alias("q"))
        .withColumn(
            "bks", _srp_buckets_batch(F.col("q"), tables_w, bucket_bits)
        )
        .select(
            "vec_id",
            "v",
            *[F.col("bks")[t].alias(f"b{t}") for t in range(_BEAM_TABLES)],
        )
        .localCheckpoint(eager=True)
    )
    bk = e
    cand = None
    for t in range(_BEAM_TABLES):
        a = bk.select(F.col("vec_id").alias("src"), F.col(f"b{t}").alias("b"))
        b = bk.select(F.col("vec_id").alias("dst"), F.col(f"b{t}").alias("b"))
        pairs_t = (
            a.join(b, "b")
            # score each unordered pair ONCE (cosine is symmetric);
            # the mirror below restores both edge directions
            .filter(F.col("src") < F.col("dst"))
            .select("src", "dst")
        )
        cand = pairs_t if cand is None else cand.unionByName(pairs_t)
    cand = cand.distinct()
    va = e.select(F.col("vec_id").alias("src"), F.col("v").alias("va"))
    vb = e.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb"))
    half = (
        cand.join(va, "src")
        .join(vb, "dst")
        .select(
            "src", "dst",
            cosine_similarity(F.col("va"), F.col("vb")).alias("s"),
        )
    )
    sims = half.unionByName(
        half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "s"
        )
    )
    graph = topk_per_group(
        sims, ["src"], [F.col("s").desc(), F.col("dst")], _BEAM_DEGREE
    ).select("src", "dst")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    psim = probes.crossJoin(e).select(
        "probe_id",
        F.col("vec_id").alias("node"),
        cosine_similarity(F.col("pv"), F.col("v")).alias("s"),
    ).localCheckpoint(eager=True)  # looked up by every hop; bounded
    graph = graph.localCheckpoint(eager=True)

    beam = psim.filter(F.col("node") == 0)  # fixed entry point
    for _ in range(_BEAM_HOPS):
        expanded = (
            beam.select("probe_id", "node")
            .join(graph, beam["node"] == graph["src"])
            .select("probe_id", F.col("dst").alias("node"))
            .unionByName(beam.select("probe_id", "node"))
            .distinct()
        )
        scored = expanded.join(psim, ["probe_id", "node"])
        beam = topk_per_group(
            scored, ["probe_id"], [F.col("s").desc(), F.col("node")],
            _BEAM_WIDTH,
        )
    found = topk_per_group(
        beam, ["probe_id"], [F.col("s").desc(), F.col("node")], 10
    ).select("probe_id", "node")
    truth = topk_per_group(
        psim.filter(F.col("node") != F.col("probe_id")),
        ["probe_id"], [F.col("s").desc(), F.col("node")], 10,
    ).select("probe_id", "node")
    hit = found.withColumn("__hit", F.lit(1))
    return (
        truth.join(hit, ["probe_id", "node"], "left")
        .groupBy("probe_id")
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_found_of_10")
        )
    )


# -------------------------------------------------------------------------
# Byte-level fuzzy dedup of binary payloads (operators/binary_dedup.py)
# -------------------------------------------------------------------------


def _sql_binary_neardup(
    window: int = 6, divisor: int = 19,
    n_sig: int = 8, n_bands: int = 4, threshold: float = 0.5,
) -> str:
    """DuckDB twin of operators.binary_dedup.binary_neardup_pairs —
    the identical stateless window-hash boundary rule, chunk digests,
    md5-permutation MinHash bands, and exact chunk-Jaccard verify.
    (The engine slices the BINARY payload; the oracle slices the
    VARCHAR — byte-identical on the all-ASCII fixture, asserted by
    tests/test_round9_ops.py on the real table.)"""
    return f"""
    WITH {_sql_binary_chain(window, divisor, n_sig, n_bands)}
    SELECT id_a, id_b, n_chunks_a, n_chunks_b, jaccard_dist FROM scored
    WHERE jaccard_dist <= {threshold}
    """


def _sql_binary_chain(
    window: int = 6, divisor: int = 19,
    n_sig: int = 8, n_bands: int = 4,
) -> str:
    """The shared CTE chain (payload → CDC chunks → MinHash bands →
    candidates → exact-Jaccard scored pairs) behind both binary-dedup
    oracles."""
    rows = n_sig // n_bands
    sig_cols = ", ".join(
        f"list_min(list_transform(ts, t -> md5(t || '#{s}'))) AS s{s}"
        for s in range(1, n_sig + 1)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT id, {b} AS band, "
        f"md5({' || '.join(f's{b * rows + r}' for r in range(1, rows + 1))}) AS bh "
        "FROM sigs"
        for b in range(n_bands)
    )
    start_k = "CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END"
    return f"""p AS (
        SELECT doc_id AS id, text AS s, length(text) AS n
        FROM documents WHERE length(text) > 0
    ),
    bnd AS (
        SELECT id, s, n,
               [i for i in generate_series({window}, n)
                  if ('0x' || hex(substring(
                          s, i - {window - 1}, {window})))::BIGINT
                     % {divisor} = 0] AS bpos
        FROM p
    ),
    seg AS (
        SELECT id, s,
               CASE WHEN len(bpos) > 0 AND bpos[-1] = n THEN bpos
                    ELSE list_append(bpos, n) END AS ends
        FROM bnd
    ),
    ch AS (
        SELECT id,
               list_transform(
                   generate_series(1, len(ends)),
                   k -> md5(substring(s, {start_k},
                                      ends[k] - ({start_k}) + 1))
               ) AS chunks
        FROM seg
    ),
    ts AS (SELECT id, list_distinct(chunks) AS ts FROM ch),
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
               len(x.ts) AS n_chunks_a, len(y.ts) AS n_chunks_b,
               ROUND(1.0 - len(list_intersect(x.ts, y.ts))::DOUBLE
                     / (len(x.ts) + len(y.ts)
                        - len(list_intersect(x.ts, y.ts))),
                     6) AS jaccard_dist
        FROM cand
        JOIN ts x ON cand.id_a = x.id
        JOIN ts y ON cand.id_b = y.id
    )"""


@_register(
    "binary_neardup_pairs",
    _sql_binary_neardup(),
    "§2.11 dedup (byte-level fuzzy dedup of binary payloads: "
    "content-defined chunking + MinHash over chunk digests)",
    "Fuzzy dedup where text shingling can't go: opaque BINARY "
    "payloads (the multimodal column). Each payload chunks at "
    "content-defined boundaries — a stateless rolling-window hash "
    "(the trailing 6 bytes read as one big-endian integer, prime "
    "divisor condition), so an edit "
    "anywhere re-synchronizes at the next unmodified window and "
    "near-dup payloads share most chunk digests; fixed-width "
    "blocking would lose every block after one inserted byte. The "
    "per-payload digest SET then rides the standard banded-MinHash "
    "candidate join + exact chunk-Jaccard verify "
    "(operators/binary_dedup.py over dedup.minhash_banded_pairs). "
    "Chunking is a pure Column expression (no UDF) on the binary "
    "column itself; the oracle replays boundaries, digests, bands, "
    "and Jaccard on the VARCHAR twin — byte-identical on the "
    "all-ASCII fixture — so one drifted boundary or digest breaks "
    "the hash. At 100 TB: payload bytes never leave their "
    "partition; only (band, hash, id) tuples and 16-byte chunk "
    "fingerprints of candidate survivors shuffle — generalizes D1 "
    "(supervised_classifier.py:174-175) to payloads.",
)
def q_binary_neardup_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.binary_dedup import binary_neardup_pairs
    from ..operators.multimodal import documents_as_binary

    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    payloads = documents_as_binary(docs)
    return binary_neardup_pairs(payloads)


# -------------------------------------------------------------------------
# Persisted IVF ANN index in the lakehouse (ml/ann_index.py)
# -------------------------------------------------------------------------


def _ivf_oracle_ctes(k: int = 8, iters: int = 2) -> str:
    """DuckDB twin of ml/ann_index.py's index build: the
    embedding_kmeans integer-Lloyd chain (same contract, programmatic
    like the PQ oracle), trained on the EVEN-vec_id half, with the
    final assignment ``aF`` covering ALL vectors. Multi-referenced
    CTEs are MATERIALIZED."""
    parts = [
        """quant AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
        FROM embeddings
    ),
    qx AS MATERIALIZED (
        SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS val
        FROM quant
    ),
    tx AS MATERIALIZED (SELECT * FROM qx WHERE vec_id % 2 = 0),
    c0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
               vec_id
        FROM (SELECT DISTINCT vec_id FROM tx ORDER BY vec_id LIMIT """
        + str(k)
        + """)
    ),
    cent0 AS MATERIALIZED (
        SELECT c0.cid, tx.pos, tx.val AS cval FROM c0 JOIN tx USING (vec_id)
    )"""
    ]
    prev = "cent0"
    for i in range(1, iters + 1):
        parts.append(f"""d{i} AS (
        SELECT tx.vec_id, {prev}.cid,
               SUM((tx.val - {prev}.cval) * (tx.val - {prev}.cval)) AS d
        FROM tx JOIN {prev} USING (pos)
        GROUP BY tx.vec_id, {prev}.cid
    ),
    a{i} AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cid) AS rn
            FROM d{i}
        ) WHERE rn = 1
    ),
    cent{i} AS (
        SELECT a{i}.cid, tx.pos,
               CAST(floor(CAST(SUM(tx.val) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS cval
        FROM a{i} JOIN tx USING (vec_id)
        GROUP BY a{i}.cid, tx.pos
    ),
    cent{i}f AS MATERIALIZED (
        SELECT * FROM cent{i}
        UNION ALL
        SELECT cid, pos, cval FROM {prev}
        WHERE cid NOT IN (SELECT DISTINCT cid FROM a{i})
    )""")
        prev = f"cent{i}f"
    parts.append(f"""dF AS (
        SELECT qx.vec_id, {prev}.cid,
               SUM((qx.val - {prev}.cval) * (qx.val - {prev}.cval)) AS d
        FROM qx JOIN {prev} USING (pos)
        GROUP BY qx.vec_id, {prev}.cid
    ),
    aF AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cid) AS rn
            FROM dF
        ) WHERE rn = 1
    )""")
    return ",\n    ".join(parts), prev


_IVF_CTES, _IVF_CENT_FINAL = _ivf_oracle_ctes()


@_register(
    "ann_index_build",
    f"""
    WITH {_IVF_CTES},
    md5s AS (
        SELECT cid,
               md5(string_agg(CAST(cval AS VARCHAR), ',' ORDER BY pos))
                   AS centroid_md5
        FROM {_IVF_CENT_FINAL} GROUP BY cid
    )
    SELECT aF.cid AS cell,
           CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_vectors_initial,
           COUNT(*) AS n_vectors_current,
           ANY_VALUE(md5s.centroid_md5) AS centroid_md5
    FROM aF JOIN md5s USING (cid)
    GROUP BY aF.cid
    """,
    "§2.11 similarity search × lakehouse (persisted, versioned IVF "
    "index build + refresh)",
    "The serving index stops being a per-query throwaway: IVF "
    "centroids and per-cell posting lists live as VERSIONED lakehouse "
    "tables (ml/ann_index.py over sources/lakehouse.py). Build = "
    "deterministic integer Lloyd (the embedding_kmeans contract, "
    "k=8) on the even-vec_id corpus half + CREATE; refresh = the odd "
    "half assigned to the SAME centroids and MERGEd per cell "
    "(bucket-pruned state read, copy-on-write commit — index "
    "maintenance cost scales with the delta, not the corpus). This "
    "query reads the build evidence OFF DISK — the time-traveled v1 "
    "counts, the current counts, the stored centroid md5s — while "
    "the oracle re-derives all three from the raw embeddings "
    "relationally, so a lost posting, double-counted refresh, or "
    "drifted centroid breaks the hash. At 100 TB this is how a "
    "serving index actually ships: versioned artifacts, incremental "
    "refresh, rollback via time travel.",
)
def q_ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.ann_index import index_summary

    return index_summary(spark, _ann_index_dir(spark, sf_dir))


@_register(
    "ann_query_from_index",
    f"""
    WITH {_IVF_CTES},
    d_pc AS (
        SELECT qx.vec_id AS probe_id, {_IVF_CENT_FINAL}.cid,
               SUM((qx.val - {_IVF_CENT_FINAL}.cval)
                   * (qx.val - {_IVF_CENT_FINAL}.cval)) AS d
        FROM qx JOIN {_IVF_CENT_FINAL} USING (pos)
        WHERE qx.vec_id < 5
        GROUP BY qx.vec_id, {_IVF_CENT_FINAL}.cid
    ),
    pc AS (
        SELECT probe_id, cid FROM (
            SELECT probe_id, cid,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY d, cid) AS rn
            FROM d_pc
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT pc.probe_id, aF.vec_id AS neighbor_id
        FROM pc JOIN aF ON aF.cid = pc.cid AND aF.vec_id != pc.probe_id
    ),
    dists AS (
        SELECT c.probe_id, c.neighbor_id,
               SUM((px.val - nx.val) * (px.val - nx.val)) AS d_q
        FROM cand c
        JOIN qx px ON px.vec_id = c.probe_id
        JOIN qx nx ON nx.vec_id = c.neighbor_id AND nx.pos = px.pos
        GROUP BY c.probe_id, c.neighbor_id
    )
    SELECT probe_id, neighbor_id, CAST(d_q AS BIGINT) AS d_q FROM (
        SELECT probe_id, neighbor_id, d_q,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY d_q, neighbor_id) AS rn
        FROM dists
    ) WHERE rn <= 5
    """,
    "§2.11 similarity search × lakehouse (ANN served from the "
    "persisted index only)",
    "The query half of the persisted-index story: probe vectors come "
    "OUT OF the postings table, candidate cells out of the stored "
    "centroids, and the candidate scan is a bucket-pruned "
    "read_table(point_keys=probed_cells) — the query plan touches "
    "ONLY the two index tables, never the raw embeddings parquet "
    "(inputFiles plan-tested, the lakehouse_manifest_pruning "
    "discipline). Scoring is exact int64 L2 in the quantized space "
    "with (distance, id) tie-breaks, so the DuckDB oracle — which "
    "re-derives the same index state relationally — hash-matches the "
    "full per-probe top-5, proving the STORED index serves exactly "
    "what a fresh build would. At 100 TB the probed-cell point read "
    "is the entire point of IVF: the scan touches n_probe/k of the "
    "corpus, routed by the manifest before planning.",
)
def q_ann_query_from_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..ml.ann_index import query_ivf_index

    return query_ivf_index(spark, _ann_index_dir(spark, sf_dir))


@_register(
    "binary_dedup_manifest",
    f"""
    WITH RECURSIVE {_sql_binary_chain()},
    prs AS (SELECT id_a, id_b FROM scored WHERE jaccard_dist <= 0.5),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM prs
        UNION SELECT id_b, id_a FROM prs
    ),
    reach(node, m) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT eg.v, r.m FROM reach r JOIN edges eg ON eg.u = r.node
    ),
    comp AS (SELECT node, MIN(m) AS cluster FROM reach GROUP BY node),
    labeled AS (
        SELECT p.id AS node, COALESCE(comp.cluster, p.id) AS cluster
        FROM p LEFT JOIN comp ON comp.node = p.id
    )
    SELECT cluster AS keeper_doc_id,
           COUNT(*) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
           CAST(SUM(node) AS BIGINT) AS member_checksum
    FROM labeled GROUP BY cluster
    """,
    "§2.11 dedup (keep-one manifest over binary near-dup clusters)",
    "The actionable half of binary fuzzy dedup: the verified near-dup "
    "PAIRS fold into duplicate CLUSTERS (min-label propagation to "
    "fixpoint — operators/dedup.py connected_components, the same "
    "distributed loop as neardup_clusters) and every payload gets a "
    "keep-one verdict: the cluster's smallest doc_id is the keeper, "
    "everything else drops. Singletons keep themselves, so the "
    "manifest covers the WHOLE corpus. The hashed per-cluster summary "
    "(member count, drop count, member-id checksum) pins cluster "
    "MEMBERSHIP, not just counts — the oracle recomputes the chunking, "
    "banding, verification, and an exact recursive-CTE transitive "
    "closure from scratch. At 100 TB: pairs come from the banded "
    "candidate machinery (never all-pairs), the label loop shuffles "
    "(node, cluster) longs only, and iterations are bounded by "
    "component diameter (near-dup clusters are dense and shallow).",
)
def q_binary_dedup_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.binary_dedup import binary_neardup_pairs
    from ..operators.dedup import connected_components
    from ..operators.multimodal import documents_as_binary

    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    pairs = binary_neardup_pairs(documents_as_binary(docs))
    comp = connected_components(pairs.select("id_a", "id_b"))
    labeled = (
        docs.select(F.col("doc_id").alias("node"))
        .join(comp, "node", "left")
        .select(
            "node",
            F.coalesce("cluster", F.col("node")).alias("cluster"),
        )
    )
    return labeled.groupBy(F.col("cluster").alias("keeper_doc_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
        F.sum("node").cast("long").alias("member_checksum"),
    )


@_register(
    "binary_chunk_savings",
    f"""
    WITH {_sql_binary_chain()},
    chx AS (
        SELECT id, s, ends, unnest(generate_series(1, len(ends))) AS k
        FROM seg
    ),
    chunks2 AS (
        SELECT id,
               md5(substring(s, CASE WHEN k = 1 THEN 1
                                     ELSE ends[k-1] + 1 END,
                             ends[k] - (CASE WHEN k = 1 THEN 1
                                             ELSE ends[k-1] + 1 END) + 1))
                   AS d,
               ends[k] - (CASE WHEN k = 1 THEN 1
                               ELSE ends[k-1] + 1 END) + 1 AS l
        FROM chx
    ),
    uniq AS (SELECT d, MIN(l) AS l FROM chunks2 GROUP BY d),
    tot AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_bytes
        FROM p
    )
    SELECT tot.n_docs,
           tot.total_bytes,
           (SELECT COUNT(*) FROM chunks2) AS n_chunks,
           (SELECT COUNT(*) FROM uniq) AS n_unique_chunks,
           (SELECT CAST(SUM(l) AS BIGINT) FROM uniq) AS unique_bytes,
           ROUND(100.0 * (tot.total_bytes
                          - (SELECT SUM(l) FROM uniq))
                 / tot.total_bytes, 6) AS pct_saved
    FROM tot
    """,
    "§2.11 dedup (chunk-store savings accounting over binary payloads)",
    "The metric a content-addressed chunk store (borg/restic shape) "
    "actually reports: store every content-defined chunk ONCE and the "
    "corpus costs unique-chunk bytes instead of total bytes. One "
    "explode of the (digest, length) chunk structs → distinct-digest "
    "byte sum vs total payload bytes, with the saving percentage from "
    "a single identical double division in both engines. Exercises "
    "the same chunker as the near-dup pairs, so a boundary drift "
    "shows up HERE as a changed chunk census even if no pair flips. "
    "At 100 TB: the explode carries (16B digest, int) — never payload "
    "bytes — and the census is one map-side-combined aggregation; "
    "this is the number that justifies the chunk store's existence.",
)
def q_binary_chunk_savings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.binary_dedup import cdc_chunks_with_len
    from ..operators.multimodal import documents_as_binary

    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    par = spark.sparkContext.defaultParallelism
    payloads = documents_as_binary(docs).repartition(par, "doc_id")
    ch = payloads.select(
        F.length("payload").alias("n"),
        cdc_chunks_with_len(F.col("payload")).alias("chunks"),
    ).localCheckpoint(eager=True)  # one CDC pass feeds both aggregates
    tot = ch.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("long").alias("total_bytes"),
        F.sum(F.size("chunks")).cast("long").alias("n_chunks"),
    )
    uniq = (
        ch.select(F.explode("chunks").alias("c"))
        .groupBy("c.d")
        .agg(F.min("c.l").alias("l"))
        .agg(
            F.count(F.lit(1)).alias("n_unique_chunks"),
            F.sum("l").cast("long").alias("unique_bytes"),
        )
    )
    return tot.crossJoin(uniq).select(
        "n_docs", "total_bytes", "n_chunks", "n_unique_chunks",
        "unique_bytes",
        F.round(
            100.0
            * (F.col("total_bytes") - F.col("unique_bytes"))
            / F.col("total_bytes"),
            6,
        ).alias("pct_saved"),
    )


_ANN_DELETE_IDS = list(range(10))  # the purge panel: vec_id < 10


def _ann_deleted_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """A PRIVATE copy of the persisted IVF index taken through a
    vector-level GDPR purge (delete vec_id < 10 from the posting
    lists) — the shared cached index is never mutated; keyed on the
    embeddings table (``scratch.published``)."""
    import os
    import shutil

    from ..ml.ann_index import delete_vectors
    from ..scratch import published

    src = _ann_index_dir(spark, sf_dir)

    def build(stage: str) -> None:
        shutil.copytree(src, stage, dirs_exist_ok=True)
        os.remove(os.path.join(stage, "_UMT_ANN_DONE"))
        delete_vectors(
            spark, os.path.join(stage, "postings"), _ANN_DELETE_IDS
        )

    return published(
        sf_dir, "embeddings", "umt_ann_del", "_UMT_ANNDEL_DONE", build
    )


@_register(
    "ann_index_delete",
    f"""
    WITH {_IVF_CTES}
    SELECT aF.cid AS cell,
           COUNT(*) AS n_before,
           CAST(SUM(CASE WHEN vec_id >= 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_after,
           TRUE AS ok_deleted_absent,
           TRUE AS ok_history_intact
    FROM aF GROUP BY aF.cid
    """,
    "§2.11 similarity search × governance (vector deletion from the "
    "persisted index)",
    "GDPR for vectors: deleting a user's embeddings from the SERVING "
    "index, not just the raw table. delete_vectors (ml/ann_index.py) "
    "rewrites ONLY the cells whose posting lists hold a purged id "
    "(copy-on-write MERGE; an emptied cell tombstones out), so the "
    "purge costs the touched cells, not the index. This query reads "
    "the purged index back OFF DISK: per-cell before/after counts "
    "(before = time-traveled pre-delete version — the audit trail), "
    "plus engine-verified flags that the purged ids are ABSENT from "
    "the latest version and STILL PRESENT in the prior one (the same "
    "tombstone-then-vacuum contract as the row-level GDPR purge; "
    "vacuum gives physical erasure). The oracle re-derives the "
    "per-cell census from the raw embeddings, so a lost survivor or "
    "leaked purged vector breaks the hash.",
)
def q_ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.lakehouse import latest_version, read_table

    post = os.path.join(
        _ann_deleted_index_dir(spark, sf_dir), "postings"
    )
    latest = latest_version(post)
    ids = _ANN_DELETE_IDS

    def vec_ids(version: int):
        return (
            read_table(spark, post, version=version)
            .select("cell", F.explode("postings").alias("p"))
            .select("cell", F.col("p.vec_id").alias("vec_id"))
        )

    before = vec_ids(latest - 1)
    after = vec_ids(latest)
    # engine-verified purge flags (bounded: two tiny aggregates)
    n_leaked = after.filter(F.col("vec_id").isin(ids)).count()
    n_audit = before.filter(F.col("vec_id").isin(ids)).count()
    b = before.groupBy("cell").agg(F.count(F.lit(1)).alias("n_before"))
    a = after.groupBy("cell").agg(F.count(F.lit(1)).alias("n_after"))
    return (
        b.join(a, "cell", "left")
        .select(
            "cell",
            "n_before",
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            F.lit(n_leaked == 0).alias("ok_deleted_absent"),
            F.lit(n_audit == len(ids)).alias("ok_history_intact"),
        )
    )


def _ann_streamed_index_stats(spark: SparkSession, sf_dir: str):
    """Build (once per on-disk state of the embeddings table;
    ``scratch.published``) a fresh IVF index maintained by the
    STREAMING refresh path, and return (per-cell counts via the table
    read, run-evidence dict)."""
    import json
    import os

    from ..ml.ann_index import stream_ivf_index
    from ..scratch import published

    def build(stage: str) -> None:
        ev = stream_ivf_index(
            spark, _t(spark, sf_dir, "embeddings"), stage
        )
        with open(os.path.join(stage, "_UMT_ANNSTREAM_STATS.json"), "w") as f:
            json.dump(ev, f)

    tdir = published(
        sf_dir, "embeddings", "umt_ann_stream",
        "_UMT_ANNSTREAM_STATS.json", build,
    )
    with open(os.path.join(tdir, "_UMT_ANNSTREAM_STATS.json")) as f:
        return tdir, json.load(f)


@_register(
    "streaming_ann_index_refresh",
    f"""
    WITH {_IVF_CTES}
    SELECT aF.cid AS cell,
           COUNT(*) AS n_vectors,
           TRUE AS ok_multi_batch,
           TRUE AS ok_commit_per_batch,
           TRUE AS ok_replay_skipped
    FROM aF GROUP BY aF.cid
    """,
    "§2.9/§2.11 (streaming maintenance of the persisted ANN index, "
    "exactly-once)",
    "The three pillars joined: a Structured Streaming query replays "
    "the odd-vec_id corpus half as file-drop micro-batches and "
    "foreachBatch folds each batch into the PERSISTED IVF index — "
    "assign to the stored centroids, per-cell copy-on-write MERGE, "
    "one version per non-empty batch, with the batch_id watermark "
    "riding the atomic manifest commit so replays are skipped "
    "transactionally (the streaming-lakehouse-sink contract applied "
    "to the serving index; ml/ann_index.py:stream_ivf_index). Because "
    "refreshes union posting sets, the final table state is "
    "arrival-order independent and must equal the one-shot build: the "
    "oracle re-derives the per-cell census from raw embeddings, so a "
    "lost batch, duplicated replay, or drifted assignment breaks the "
    "hash. ok_replay_skipped is a LIVE proof — batch 0 re-applied "
    "under its original id after the run, version must not move. At "
    "100 TB this is how a serving index tracks a live corpus: "
    "incremental, versioned, exactly-once.",
)
def q_streaming_ann_index_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from ..sources.lakehouse import read_table

    tdir, ev = _ann_streamed_index_stats(spark, sf_dir)
    post = os.path.join(tdir, "index", "postings")
    return read_table(spark, post).select(
        "cell",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.lit(ev["n_data_batches"] >= 3).alias("ok_multi_batch"),
        F.lit(ev["n_versions"] == 1 + ev["n_data_batches"]).alias(
            "ok_commit_per_batch"
        ),
        F.lit(bool(ev["replay_skipped"])).alias("ok_replay_skipped"),
    )


def _ann_purged_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """A private index copy taken through the FULL vector-erasure
    lifecycle: delete the purge panel from the postings, OPTIMIZE
    (compact, self-contained rewrite), VACUUM to the latest version —
    physical erasure, the audit trail intentionally destroyed. The
    pre-purge census is persisted beside the table (the post-vacuum
    table can no longer answer it)."""
    import json
    import os
    import shutil

    from ..ml.ann_index import delete_vectors
    from ..scratch import published
    from ..sources.lakehouse import (
        optimize_table, read_table, vacuum_table,
    )

    src = _ann_index_dir(spark, sf_dir)

    def build(stage: str) -> None:
        shutil.copytree(src, stage, dirs_exist_ok=True)
        os.remove(os.path.join(stage, "_UMT_ANN_DONE"))
        post = os.path.join(stage, "postings")
        n_purged = (
            read_table(spark, post)
            .select(F.explode("postings").alias("p"))
            .filter(F.col("p.vec_id").isin(_ANN_DELETE_IDS))
            .count()
        )
        delete_vectors(spark, post, _ANN_DELETE_IDS)
        optimize_table(spark, post, "cell")
        vacuum_table(post, retain_versions=1)
        with open(os.path.join(stage, "_UMT_ANNPURGE_STATS.json"), "w") as f:
            json.dump({"n_purged_prepurge": n_purged}, f)

    return published(
        sf_dir, "embeddings", "umt_ann_purge", "_UMT_ANNPURGE_STATS.json",
        build,
    )


@_register(
    "ann_index_purge_vacuum",
    f"""
    WITH {_IVF_CTES}
    SELECT CAST(SUM(CASE WHEN vec_id >= 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_vectors_latest,
           CAST(SUM(CASE WHEN vec_id < 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purged_prepurge,
           CAST(0 AS BIGINT) AS trace_vectors,
           TRUE AS ok_history_unreadable
    FROM aF
    """,
    "§2.11 similarity search × governance (physical vector erasure "
    "from the index)",
    "The erasure half of the vector-GDPR story: ann_index_delete "
    "tombstones purged vectors but keeps the audit trail readable; "
    "this query completes the lifecycle — delete, OPTIMIZE (compact "
    "self-contained rewrite), VACUUM to the latest version — and then "
    "PROVES physical erasure the lakehouse_gdpr_purge way: a "
    "recursive scan of every parquet file left under the postings "
    "table (not just manifest-reachable ones) explodes the posting "
    "arrays and counts purged ids (must be 0), and time travel to the "
    "pre-purge version must now FAIL (the audit trail is gone by "
    "design — keep it on a legal-hold clone if required). The "
    "surviving census is hash-checked against the oracle's "
    "re-derivation. At 100 TB the cost is the one OPTIMIZE rewrite; "
    "the purge itself touched only the purged vectors' cells.",
)
def q_ann_index_purge_vacuum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import json as _json
    import os

    from ..sources.lakehouse import read_table

    tdir = _ann_purged_index_dir(spark, sf_dir)
    post = os.path.join(tdir, "postings")
    with open(os.path.join(tdir, "_UMT_ANNPURGE_STATS.json")) as f:
        pre = _json.load(f)["n_purged_prepurge"]
    n_latest = (
        read_table(spark, post)
        .select(F.explode("postings").alias("p"))
        .count()
    )
    trace = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(os.path.join(post, "data"))
        .select(F.explode("postings").alias("p"))
        .filter(F.col("p.vec_id").isin(_ANN_DELETE_IDS))
        .count()
    )
    try:
        read_table(spark, post, version=1).count()
        unreadable = False
    except Exception:
        unreadable = True
    return spark.createDataFrame(
        [(n_latest, pre, trace, unreadable)],
        "n_vectors_latest long, n_purged_prepurge long, "
        "trace_vectors long, ok_history_unreadable boolean",
    )


@_register(
    "prefix_filter_neardup",
    f"""
    WITH ts AS MATERIALIZED (
        SELECT doc_id AS id, list_distinct({sql_tokens_pipeline('text')}) AS ts
        FROM documents WHERE doc_id < 300
    ),
    ne AS MATERIALIZED (SELECT * FROM ts WHERE len(ts) > 0),
    tok AS MATERIALIZED (SELECT id, unnest(ts) AS token FROM ne),
    dfreq AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
    ranked AS (
        SELECT t.id, t.token,
               row_number() OVER (PARTITION BY t.id
                                  ORDER BY d.df, t.token) AS rn,
               COUNT(*) OVER (PARTITION BY t.id) AS n
        FROM tok t JOIN dfreq d USING (token)
    ),
    pref AS (SELECT id, token FROM ranked
             WHERE rn <= n - (4 * n + 4) // 5 + 1),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM pref a JOIN pref b
          ON a.token = b.token AND a.id < b.id
    ),
    scored AS (
        SELECT id_a, id_b,
               len(list_intersect(x.ts, y.ts)) AS i,
               len(x.ts) AS na, len(y.ts) AS nb
        FROM cand
        JOIN ne x ON cand.id_a = x.id
        JOIN ne y ON cand.id_b = y.id
    )
    SELECT id_a, id_b,
           ROUND(1.0 - i::DOUBLE / (na + nb - i), 6) AS jaccard_dist
    FROM scored WHERE 9 * i >= 4 * (na + nb)
    """,
    "§2.11 dedup (exact set-similarity join via prefix filtering — "
    "AllPairs/PPJoin, Bayardo et al. WWW'07)",
    "The LOSSLESS candidate generator beside the probabilistic ones "
    "(MinHash banding, SRP buckets): order every token set by global "
    "document frequency (rarest first, ties by token), and for "
    "Jaccard ≥ 0.5 two sets MUST share a token within their first "
    "n//2+1 ordered tokens — so candidates come from an equi-join on "
    "PREFIX tokens only, with a guarantee of zero missed pairs "
    "(pytest proves output identity with the exact all-pairs join). "
    "Thresholding is pure integer arithmetic (9·|∩| ≥ 4·(|a|+|b|) ⇔ "
    "J ≥ 4/5 — no float edge; the prefix bound uses the integer "
    "⌈0.8n⌉ = (4n+4)//5) and the frequency order is a "
    "deterministic total order, so the DuckDB twin replays candidates "
    "and survivors exactly. Shuffles carry (token, id) pairs and the "
    "per-id ranking rides one id-keyed window — rare tokens make "
    "short candidate lists, which is the entire point of the "
    "frequency order at 100 TB.",
)
def q_prefix_filter_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # the 300-doc verification panel shared with neardup_clusters /
    # pagerank: the synthetic corpus is a deliberate duplicate soup, so
    # an unbounded pair OUTPUT grows quadratically with corpus dups —
    # the algorithm itself is the full-corpus path (shuffles carry
    # (token, id) pairs only) and its losslessness is what the panel
    # proves
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ts = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.array_distinct(tokens_pipeline(F.col("text"))).alias("ts"),
        )
        .filter(F.size("ts") > 0)
        .localCheckpoint(eager=True)  # feeds tok explode + both verify joins
    )
    tok = ts.select("id", F.explode("ts").alias("token"))
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "token")
    ranked = (
        tok.join(dfreq, "token")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    pref = ranked.filter(
        F.expr("rn <= n - (4 * n + 4) DIV 5 + 1")
    ).select("id", "token")
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    xa = ts.select(F.col("id").alias("id_a"), F.col("ts").alias("ta"))
    xb = ts.select(F.col("id").alias("id_b"), F.col("ts").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    na, nb = F.size("ta"), F.size("tb")
    return (
        cand.join(xa, "id_a")
        .join(xb, "id_b")
        .filter(9 * inter >= 4 * (na + nb))
        .select(
            "id_a", "id_b",
            F.round(
                F.lit(1.0) - inter.cast("double") / (na + nb - inter), 6
            ).alias("jaccard_dist"),
        )
    )


@_register(
    "label_centroid_similarity",
    """
    WITH comps AS (
        SELECT label,
               unnest(range(0, len(embedding))) AS dim,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000000)
                    AS HUGEINT) AS q
        FROM embeddings
    ),
    sums AS (
        SELECT label, dim, SUM(q) AS s
        FROM comps GROUP BY 1, 2
    ),
    dots AS (
        SELECT a.label AS la, b.label AS lb,
               SUM(a.s * b.s) AS dot
        FROM sums a JOIN sums b ON a.dim = b.dim AND a.label <= b.label
        GROUP BY 1, 2
    )
    SELECT p.la AS label_a, p.lb AS label_b,
           ROUND(CAST(p.dot AS DOUBLE)
                 / SQRT(CAST(na.dot AS DOUBLE) * CAST(nb.dot AS DOUBLE)),
                 6) + 0 AS centroid_cosine
    FROM dots p
    JOIN dots na ON na.la = p.la AND na.lb = p.la
    JOIN dots nb ON nb.la = p.lb AND nb.lb = p.lb
    WHERE p.la < p.lb
    """,
    "§2.11 similarity (exact pairwise label-centroid cosine)",
    "Class-separation diagnostic: the cosine between every pair of "
    "label centroids over the embedding corpus — which classes are "
    "entangled BEFORE training a classifier (the summary that sizes "
    "hard-negative mining and guides curriculum ordering). The "
    "determinism trick: the centroid's 1/n factors CANCEL in cosine, "
    "so the exact answer is the cosine of the per-label SUM vectors — "
    "components quantize to integer 1e-7 units (one double-rounding "
    "per value, bit-identical on both engines), the (label, dim) sums "
    "are exact integers under any partitioning, and the pairwise dot "
    "products stay exact integers until ONE final divide+sqrt. Plan "
    "shape: posexplode fans out map-side; one (label, dim) groupBy "
    "folds the corpus into labels x dims cells; the pairwise join is "
    "a bounded self-join on that tiny cell relation. At 100 TB only "
    "(label, dim, partial-sum) triples shuffle.",
)
def q_label_centroid_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    comps = emb.select(
        "label", F.posexplode("embedding").alias("dim", "e")
    ).select(
        "label",
        "dim",
        F.round(F.col("e").cast("double") * 10000000)
        .cast("decimal(38,0)")
        .alias("q"),
    )
    sums = comps.groupBy("label", "dim").agg(F.sum("q").alias("s"))
    a = sums.select(
        F.col("label").alias("la"), "dim", F.col("s").alias("sa")
    )
    b = sums.select(
        F.col("label").alias("lb"),
        F.col("dim").alias("dim_b"),
        F.col("s").alias("sb"),
    )
    dots = (
        a.join(
            F.broadcast(b),
            (F.col("dim") == F.col("dim_b")) & (F.col("la") <= F.col("lb")),
        )
        .groupBy("la", "lb")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    pairs = dots.filter(F.col("la") < F.col("lb"))
    na = dots.filter(F.col("la") == F.col("lb")).select(
        F.col("la").alias("n_la"), F.col("dot").alias("dot_a")
    )
    nb = dots.filter(F.col("la") == F.col("lb")).select(
        F.col("la").alias("n_lb"), F.col("dot").alias("dot_b")
    )
    return (
        pairs.join(F.broadcast(na), pairs.la == na.n_la)
        .join(F.broadcast(nb), pairs.lb == nb.n_lb)
        .select(
            F.col("la").alias("label_a"),
            F.col("lb").alias("label_b"),
            (
                F.round(
                    F.col("dot").cast("double")
                    / F.sqrt(
                        F.col("dot_a").cast("double")
                        * F.col("dot_b").cast("double")
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("centroid_cosine"),
        )
    )


def _sql_incremental_fuzzy(n_sig: int = 8, n_bands: int = 4,
                           threshold: float = 0.5) -> str:
    """DuckDB twin of operators.dedup.incremental_fuzzy_dedup over the
    modulo split (arriving = doc_id % 25 = 0): identical canonical
    set fingerprints (exact stage), md5 MinHash signature family, band
    hashes, bucket joins, exact-Jaccard verify, and the staged greedy
    one-pass admission policy."""
    rows = n_sig // n_bands
    sig_cols = ", ".join(
        f"list_min(list_transform(ts, t -> md5(t || '#{s}'))) AS s{s}"
        for s in range(1, n_sig + 1)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT id, {b} AS band, "
        f"md5({' || '.join(f's{b * rows + r}' for r in range(1, rows + 1))}) AS bh "
        "FROM sigs"
        for b in range(n_bands)
    )
    return f"""
    WITH all_ts AS (
        SELECT doc_id AS id, list_distinct({sql_tokens_pipeline('text')}) AS ts
        FROM documents
    ),
    ne AS (
        SELECT id, ts,
               md5(array_to_string(list_sort(ts), chr(1))) AS tsfp
        FROM all_ts WHERE len(ts) > 0
    ),
    ets AS (SELECT * FROM ne WHERE id % 25 != 0),
    ats AS (SELECT * FROM ne WHERE id % 25 = 0),
    fp_stats AS (
        SELECT tsfp, CAST(COUNT(*) AS BIGINT) AS cnt_e, MIN(id) AS min_e
        FROM ets GROUP BY tsfp
    ),
    staged AS (
        SELECT a.id, a.tsfp,
               ROW_NUMBER() OVER (PARTITION BY a.tsfp ORDER BY a.id) AS rn,
               FIRST_VALUE(a.id) OVER (PARTITION BY a.tsfp ORDER BY a.id)
                   AS first_mate,
               COALESCE(f.cnt_e, 0) AS cnt_e, f.min_e
        FROM ats a LEFT JOIN fp_stats f ON a.tsfp = f.tsfp
    ),
    ex_agg AS (
        SELECT id AS aid, 'exact_dup' AS stage,
               cnt_e AS n_existing_matches,
               CAST(rn - 1 AS BIGINT) AS n_batch_matches,
               LEAST(COALESCE(min_e, first_mate),
                     CASE WHEN rn > 1 THEN first_mate
                          ELSE COALESCE(min_e, first_mate) END)
                   AS best_match_id,
               0.0 AS best_match_dist
        FROM staged
        WHERE cnt_e > 0 OR rn > 1
    ),
    sigs AS (SELECT id, {sig_cols} FROM (SELECT id, ts FROM ne)),
    bands AS (
        {band_selects}
    ),
    ebands AS (SELECT * FROM bands WHERE id % 25 != 0),
    abands AS (SELECT * FROM bands WHERE id % 25 = 0),
    fbands AS (
        SELECT * FROM abands
        WHERE id NOT IN (SELECT aid FROM ex_agg)
    ),
    cand AS (
        SELECT aid, mid, FALSE AS from_batch FROM (
            SELECT DISTINCT f.id AS aid, e.id AS mid
            FROM fbands f JOIN ebands e
              ON f.band = e.band AND f.bh = e.bh
        )
        UNION ALL
        SELECT aid, mid, TRUE FROM (
            SELECT DISTINCT f.id AS aid, b.id AS mid
            FROM fbands f JOIN abands b
              ON f.band = b.band AND f.bh = b.bh AND f.id > b.id
        )
    ),
    scored AS (
        SELECT aid, mid, from_batch,
               ROUND(1.0 - len(list_intersect(x.ts, y.ts))::DOUBLE
                     / (len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts))),
                     6) AS dist
        FROM cand
        JOIN ne x ON cand.aid = x.id
        JOIN ne y ON cand.mid = y.id
    ),
    m AS (SELECT * FROM scored WHERE dist <= {threshold}),
    fz_agg AS (
        SELECT aid, 'fuzzy_dup' AS stage,
               CAST(SUM(CASE WHEN from_batch THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_existing_matches,
               CAST(SUM(CASE WHEN from_batch THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_batch_matches,
               first(mid ORDER BY dist, mid) AS best_match_id,
               MIN(dist) AS best_match_dist
        FROM m GROUP BY aid
    ),
    agg AS (SELECT * FROM ex_agg UNION ALL SELECT * FROM fz_agg)
    SELECT d.doc_id,
           COALESCE(stage, 'admitted') AS stage,
           COALESCE(n_existing_matches, CAST(0 AS BIGINT))
               AS n_existing_matches,
           COALESCE(n_batch_matches, CAST(0 AS BIGINT)) AS n_batch_matches,
           best_match_id, best_match_dist,
           agg.aid IS NULL AS admitted
    FROM (SELECT doc_id FROM documents WHERE doc_id % 25 = 0) d
    LEFT JOIN agg ON agg.aid = d.doc_id
    """


def _incremental_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Persisted corpus-side MinHash index (bands/ + token_sets/
    parquet, the latter carrying the precomputed canonical set
    fingerprint ``tsfp``), built ONCE per dataset via the staged-rename
    cache — the nightly-increment contract: the corpus is never
    re-tokenized or re-hashed on the serve path."""
    import os

    from ..operators.dedup import (
        minhash_band_table,
        minhash_token_sets,
        token_set_fingerprint,
    )
    from ..scratch import published

    def _build(stage: str) -> None:
        docs = _t(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 25 != 0
        )
        ts = minhash_token_sets(
            docs.select(
                "doc_id", tokens_pipeline(F.col("text")).alias("tokens")
            )
        ).withColumn("tsfp", token_set_fingerprint(F.col("ts")))
        ts.write.mode("overwrite").parquet(os.path.join(stage, "token_sets"))
        back = spark.read.parquet(os.path.join(stage, "token_sets"))
        minhash_band_table(back.select("id", "ts")).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, "bands"))

    return published(
        sf_dir, "documents", "umt_minhash_index", "_UMT_MINHASH_INDEX_DONE",
        _build,
    )


@_register(
    "incremental_fuzzy_dedup",
    _sql_incremental_fuzzy(),
    "§2.11 dedup (incremental staged MinHash vs persisted corpus index)",
    "The production nightly-increment fuzzy dedup, STAGED: the corpus "
    "side exists ONLY as its persisted (id, band, bh) bucket relation "
    "and fingerprinted token sets (staged-rename cache, built once per "
    "dataset). Stage 1 drops arrivals matching a canonical token-SET "
    "fingerprint (md5 of the sorted set) in the index or a lower-id "
    "batch-mate — the identical-copy mass exits on a slim hash join "
    "before any banding (without it a clone-heavy increment pays a "
    "quadratic verify: 39x wall at 10x on the clone corpus; staged, "
    "the same corpus runs linear). Stage 2 re-hashes ONLY the "
    "survivors: band join vs index + within-batch, exact-Jaccard "
    "verify, greedy one-pass admission (dropped iff matching any "
    "existing doc or lower-id batch-mate). One manifest row per "
    "arrival [stage, match counts, best match, admitted]; the oracle "
    "replays fingerprints, signatures, joins and policy. At 100 TB: "
    "increments cost O(batch + matches), the corpus never re-hashes, "
    "and only (band, hash, id) rows shuffle.",
)
def q_incremental_fuzzy_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import incremental_fuzzy_dedup

    idx = _incremental_index_dir(spark, sf_dir)
    ebands = spark.read.parquet(f"{idx}/bands")
    ets = spark.read.parquet(f"{idx}/token_sets")
    arriving = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", tokens_pipeline(F.col("text")).alias("tokens"))
    )
    return incremental_fuzzy_dedup(arriving, ebands, ets)


@_register(
    "multi_increment_dedup_replay",
    f"""
    SELECT q.*, TRUE AS ok_replay_matches_batch
    FROM ({_sql_incremental_fuzzy()}) q
    """,
    "§2.11 dedup (multi-increment replay: chunking-invariance proof)",
    "The nightly-increment contract ACROSS nights: the arriving batch "
    "is processed as three successive id-ordered increments, each "
    "deduping against the persisted corpus index PLUS the accumulated "
    "prior increments (whose matches count as batch matches, exactly "
    "like same-batch lower-id mates). The concatenated per-increment "
    "manifests must equal the single-shot manifest COLUMN FOR COLUMN "
    "— the greedy-vs-union admission policy is chunking-invariant by "
    "construction, and ok_replay_matches_batch hash-gates that "
    "equality against the oracle's TRUE (any divergence between "
    "chunked and single-shot processing fails the correctness gate). "
    "Hashed values are the single-shot manifest's (oracle-exact). "
    "Evidence machinery like the streaming parity twins: it re-runs "
    "the incremental operator's plan four times, so bench skips it "
    "as a suite.",
)
def q_multi_increment_dedup_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import (
        incremental_fuzzy_dedup,
        minhash_band_table,
        minhash_token_sets,
        token_set_fingerprint,
    )

    idx = _incremental_index_dir(spark, sf_dir)
    ebands = spark.read.parquet(f"{idx}/bands")
    ets = spark.read.parquet(f"{idx}/token_sets")
    arriving = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", tokens_pipeline(F.col("text")).alias("tokens"))
        .localCheckpoint(eager=True)
    )
    bounds = arriving.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    ).first()
    mn, mx = bounds["mn"], bounds["mx"]
    cut1 = mn + (mx - mn) // 3
    cut2 = mn + 2 * (mx - mn) // 3
    chunks = [
        arriving.filter(F.col("doc_id") <= cut1),
        arriving.filter(
            (F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)
        ),
        arriving.filter(F.col("doc_id") > cut2),
    ]
    prior_ts = prior_bands = None
    manifests = []
    for chunk in chunks:
        manifests.append(
            incremental_fuzzy_dedup(
                chunk, ebands, ets,
                prior_bands=prior_bands, prior_ts=prior_ts,
            )
        )
        cts = (
            minhash_token_sets(chunk)
            .withColumn("tsfp", token_set_fingerprint(F.col("ts")))
            .localCheckpoint(eager=True)
        )
        cbands = minhash_band_table(cts.select("id", "ts")).localCheckpoint(
            eager=True
        )
        prior_ts = cts if prior_ts is None else prior_ts.unionByName(cts)
        prior_bands = (
            cbands if prior_bands is None
            else prior_bands.unionByName(cbands)
        )
    replay = manifests[0]
    for m in manifests[1:]:
        replay = replay.unionByName(m)
    single = incremental_fuzzy_dedup(arriving, ebands, ets)
    r = replay.select(
        F.col("doc_id").alias("r_doc_id"),
        F.col("stage").alias("r_stage"),
        F.col("n_existing_matches").alias("r_nem"),
        F.col("n_batch_matches").alias("r_nbm"),
        F.col("best_match_id").alias("r_bmi"),
        F.col("best_match_dist").alias("r_bmd"),
        F.col("admitted").alias("r_adm"),
    )
    same = (
        F.col("stage").eqNullSafe(F.col("r_stage"))
        & F.col("n_existing_matches").eqNullSafe(F.col("r_nem"))
        & F.col("n_batch_matches").eqNullSafe(F.col("r_nbm"))
        & F.col("best_match_id").eqNullSafe(F.col("r_bmi"))
        & F.col("best_match_dist").eqNullSafe(F.col("r_bmd"))
        & F.col("admitted").eqNullSafe(F.col("r_adm"))
    )
    return (
        single.join(r, single.doc_id == r.r_doc_id, "left")
        .select(
            "doc_id", "stage", "n_existing_matches", "n_batch_matches",
            "best_match_id", "best_match_dist", "admitted",
            (F.col("r_doc_id").isNotNull() & same).alias(
                "ok_replay_matches_batch"
            ),
        )
    )
