"""Deduplication operators — exact and near-duplicate, at scale.

Generalizes the reference's ``list(set(train_corpus))`` exact-text dedup
(``supervised_classifier.py:174-175``, D1) into the dedup family a
training-data pipeline needs:

- ``exact_dedup`` / ``dedup_stats`` — hash-groupBy exact dedup. At 100 TB
  this is one shuffle on a fingerprint (hash the text, never shuffle the
  full text for the comparison).
- ``minhash_lsh_pairs`` — MinHash + LSH near-dup candidate pairs via
  MLlib's ``MinHashLSH.approxSimilarityJoin`` over binarized token-set
  vectors: shingle → minhash band → bucket-join. The join shuffles only
  (bucket, id) pairs, not documents.
- ``simhash64`` — 64-bit SimHash of a token array as a pure Column
  expression (xxhash64 per token, bitwise majority vote per bit plane);
  near-dups = hamming distance ≤ r, computed with bit ops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.ml.feature import CountVectorizer, MinHashLSH
from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F

from . import dispatch


def _cc_local(both: DataFrame, edges: list[Row]) -> DataFrame:
    """Driver-side union-find over ``both``'s collected (u, v) rows.

    Computes exactly the distributed fixpoint's answer — for every node
    appearing in an edge, cluster = the smallest node id in its
    component — with the same [node, cluster] schema. Pure integer
    arithmetic on the edge SET: deterministic under any edge order or
    partitioning."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    # min id per component root, then node -> component min
    comp_min: dict = {}
    for node in parent:
        root = find(node)
        cur = comp_min.get(root)
        if cur is None or node < cur:
            comp_min[root] = node
    rows = sorted((node, comp_min[find(node)]) for node in parent)
    schema = both.select(
        F.col("u").alias("node"), F.col("u").alias("cluster")
    ).schema
    return both.sparkSession.createDataFrame(rows, schema)


def _dedup_pairs_wide(cand: DataFrame, *keys: str) -> DataFrame:
    """Distinct candidate pairs, partitioned WIDE for the verify stage.

    Candidate-pair relations are slim (two ids) but carry heavy
    downstream per-row work — the exact-Jaccard verify evaluates
    array_intersect over both token sets for every pair. AQE coalesces
    the dropDuplicates exchange by BYTES (one ~MB partition for
    hundreds of thousands of pairs), which serializes that verify on a
    single core. Pinning the exchange width to the cluster parallelism
    keeps the SAME single shuffle (the aggregate reuses the explicit
    hash partitioning on the pair key) while the verify runs wide. The
    trade: map-side partial dedup is lost, so up to n_bands× more slim
    pair rows shuffle — bounded and cheap next to the verify CPU."""
    par = cand.sparkSession.sparkContext.defaultParallelism
    return cand.repartition(par, *keys).dropDuplicates(list(keys))


def exact_dedup(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Exact dedup on ``cols`` (D1: dropDuplicates)."""
    return df.dropDuplicates(list(cols))


def dedup_stats(df: DataFrame, text_col: str, by: Sequence[str]) -> DataFrame:
    """Per-group duplicate accounting: rows, distinct texts, dup rows.

    Distinctness is computed on a fingerprint (md5) so the aggregation
    state is 16 bytes/row regardless of document size.
    """
    return df.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col(text_col)))).alias(
            "n_duplicates"
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    threshold: float = 0.6,
    num_hash_tables: int = 8,
    vocab_size: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate candidate pairs (Jaccard distance ≤ threshold).

    Returns DataFrame[id_a, id_b, jaccard_dist] with id_a < id_b.

    **Verification twin, not the production path** (r12 verdict): this
    variant rides MLlib's ``MinHashLSH.approxSimilarityJoin`` self-join
    as the reference-generalization of S8's exact distinct — fine at
    bench scale and useful as an independent implementation to check
    the custom machinery against. Production traffic at 100 TB should
    use :func:`minhash_banded_pairs` (band-hash equi-join candidates,
    exact-Jaccard verify on candidates only) or the staged
    :func:`incremental_fuzzy_dedup` against the persisted index —
    those control the candidate volume explicitly via the banding
    scheme instead of MLlib's internal OR-amplified join.
    """
    # MinHashLSH requires ≥1 non-zero entry; with minDF=1 every token is
    # in-vocabulary, so non-empty token arrays guarantee that.
    docs = docs.filter(F.size(tokens_col) > 0)
    cv = CountVectorizer(
        inputCol=tokens_col, outputCol="tf", vocabSize=vocab_size, binary=True
    )
    model = cv.fit(docs)
    vecs = model.transform(docs).select(id_col, "tf")
    mh = MinHashLSH(
        inputCol="tf", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    )
    mh_model = mh.fit(vecs)
    pairs = mh_model.approxSimilarityJoin(vecs, vecs, threshold, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


def portable_hash60(t: Column) -> Column:
    """Engine-portable 60-bit token hash: the first 15 hex chars of md5
    parsed as an integer. DuckDB computes the identical value as
    ``('0x' || substring(md5(t), 1, 15))::BIGINT``, which is what makes
    the portable SimHash DuckDB-oracle-checkable (16^15 = 2^60 < 2^63,
    so the value is always a positive BIGINT in both engines)."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash_bit_counts(
    tokens: Column, hash_fn=None, n_bits: int = 64
) -> Column:
    """Per-bit-plane majority counters for SimHash (n_bits-slot array).

    The token hash is computed ONCE per token (a transform over the
    array), then each bit plane votes +1/-1. All JVM-side (aggregate HOF
    over a counter array) — no UDF, so it runs inside codegen at full
    scan speed. Shift amounts are Python-level literals (Spark's
    shiftright requires a constant).

    ``hash_fn`` defaults to ``xxhash64`` (fastest, Spark-specific seed);
    pass ``portable_hash60`` with ``n_bits=60`` for the engine-portable
    variant.
    """
    hash_fn = hash_fn or F.xxhash64
    hashes = F.transform(tokens, lambda t: hash_fn(t))
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int")
                    for i in range(n_bits)
                ]
            ),
            lambda c, b: c + F.when(b == 1, 1).otherwise(-1),
        ),
    )


def add_simhash(
    df: DataFrame,
    tokens_col: str = "tokens",
    out_col: str = "simhash",
    hash_fn=None,
    n_bits: int = 64,
) -> DataFrame:
    """Append an n_bits-wide SimHash column computed from a token-array
    column.

    Two projection steps (counters, then the bit fold) so the counter
    array is a named column and its aggregate expression is evaluated
    once per row instead of n_bits times.
    """
    counted = df.withColumn(
        "__sh_counts", simhash_bit_counts(F.col(tokens_col), hash_fn, n_bits)
    )
    acc = F.lit(0).cast("long")
    for i in range(n_bits):
        bit = F.when(
            F.element_at("__sh_counts", i + 1) > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        acc = acc.bitwiseOR(bit)
    return counted.withColumn(out_col, acc).drop("__sh_counts")



def token_set_fingerprint(ts: Column) -> Column:
    """Canonical md5 fingerprint of a token SET: sort first (the set
    representation from array_distinct keeps first-occurrence order,
    which is not canonical across engines), then join on a separator
    no token contains. The exact-stage key of the incremental dedup;
    the persisted index stores it precomputed."""
    return F.md5(F.concat_ws("\x01", F.array_sort(ts)))


def minhash_token_sets(
    docs: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """Distinct-token sets for MinHash: DataFrame[id, ts] with empty
    sets dropped (no signature exists for an empty set)."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.col(tokens_col)).alias("ts"),
    ).filter(F.size("ts") > 0)


def minhash_band_table(
    ts: DataFrame, n_sig: int = 8, n_bands: int = 4
) -> DataFrame:
    """md5-permutation MinHash signatures folded into band hashes:
    DataFrame[id, band, bh] — the engine-portable LSH bucket relation
    (the same family the DuckDB oracle replays). Shared by the batch
    pair generator and the incremental path (where the corpus side of
    this relation is PERSISTED and only arriving docs are re-hashed).
    """
    assert n_sig % n_bands == 0, "bands must evenly split the signatures"
    rows = n_sig // n_bands

    def sig(s: int) -> Column:
        suffix = F.lit(f"#{s}")
        return F.array_min(
            F.transform(F.col("ts"), lambda t: F.md5(F.concat(t, suffix)))
        )

    sigs = ts.select(
        "id", *[sig(s).alias(f"s{s}") for s in range(1, n_sig + 1)]
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat(*[F.col(f"s{b * rows + r}") for r in range(1, rows + 1)])
            ).alias("bh"),
        )
        for b in range(n_bands)
    ]
    return sigs.select(
        "id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def minhash_banded_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_sig: int = 8,
    n_bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Deterministic, engine-portable MinHash LSH near-dup pairs.

    shingle-set → ``n_sig`` md5-permutation MinHash signatures →
    ``n_bands`` band hashes → bucket equi-join on (band, band_hash) →
    exact-Jaccard verification of every candidate (array_intersect /
    union sizes), keeping pairs with Jaccard distance ≤ ``threshold``.

    Unlike MLlib's ``MinHashLSH`` (seed-specific hash family), every
    step here is md5-derived and reproducible in any engine — the DuckDB
    oracle replays it exactly. The join shuffles only
    (band, band_hash, id); token sets are re-joined for the verified
    candidates only. Emitted distances are EXACT Jaccard (the MinHash
    bands are candidate generation, not the estimate), so downstream
    dedup thresholds behave deterministically.

    Returns DataFrame[id_a, id_b, jaccard_dist] with id_a < id_b.
    """
    ts = minhash_token_sets(docs, id_col, tokens_col)
    bands = minhash_band_table(ts, n_sig=n_sig, n_bands=n_bands)

    cand = _dedup_pairs_wide(
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")),
        "id_a",
        "id_b",
    )
    xa = ts.select(F.col("id").alias("id_a"), F.col("ts").alias("ta"))
    xb = ts.select(F.col("id").alias("id_b"), F.col("ts").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    return (
        cand.join(xa, "id_a")
        .join(xb, "id_b")
        .withColumn(
            "jaccard_dist",
            F.round(F.lit(1.0) - inter.cast("double") / union, 6),
        )
        .filter(F.col("jaccard_dist") <= threshold)
        .select("id_a", "id_b", "jaccard_dist")
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit SimHash columns (bit_count)."""
    return F.bit_count(a.bitwiseXOR(b))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: min-label
    propagation to fixpoint. Returns DataFrame[node, cluster] where
    cluster = the smallest node id reachable from ``node``.

    This is the step that turns pairwise dedup (MinHash/cosine
    candidates) into keep-one-per-cluster semantics. Each iteration is
    one join + group-min (both shuffles on node id — co-partitioned
    after the first); convergence is checked with a cheap changed-count.
    At 100 TB the same loop runs with the label table checkpointed every
    few rounds to cut lineage; iterations are bounded by component
    diameter, which for near-dup graphs is small (dups cluster densely).

    Edge lists small enough to collect (≤ ``dispatch.GRAPH_EDGES``
    edges, 200k — near-dup graphs at bench scale are a few hundred)
    resolve driver-side with union-find instead: the fixpoint
    (cluster = smallest reachable id) is a pure function of the edge
    SET, so the two paths return identical rows, and the multi-round
    join/checkpoint/convergence-count overhead (~0.4 s/round of fixed
    scheduling at any data size) collapses to one collect. Above the
    budget the distributed loop runs unchanged — the 100 TB shape.
    """
    # localCheckpoint (NOT cache+unpersist) is load-bearing here: an
    # iterative loop over cached frames hits cascading cache
    # invalidation — unpersisting iteration N's labels also drops
    # iteration N+1's cache (it derives from N), so every round replays
    # the whole lineage and the wall-clock goes exponential. Checkpoints
    # truncate the lineage instead; old blocks are GC'd automatically.
    both = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # both holds each edge twice
    rows = dispatch.bounded_collect(both, 2 * dispatch.GRAPH_EDGES)
    if rows is not None:
        return _cc_local(both, rows)
    labels = (
        both.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
        .localCheckpoint(eager=True)
    )
    def _propagate(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            both.join(lbl, both.v == lbl.node)
            .groupBy("u")
            .agg(F.min("cluster").alias("nb_cluster"))
        )
        return lbl.join(neighbor_min, lbl.node == neighbor_min.u, "left").select(
            "node",
            F.least(
                F.col("cluster"),
                F.coalesce(F.col("nb_cluster"), F.col("cluster")),
            ).alias("cluster"),
        )

    changed = -1
    for _ in range(max_iter):
        # two propagation hops per checkpoint+convergence-check round:
        # labels travel 2 edges per round, so rounds ≈ diameter/2 and
        # half the checkpoint/count overhead
        new_labels = _propagate(_propagate(labels)).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.cluster") != F.col("o.cluster"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # returning here would hand the caller silently WRONG components
        # (a chain longer than max_iter splits into several clusters)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing) — raise "
            "max_iter (propagation needs ~component-diameter rounds)"
        )
    return labels.select("node", "cluster")


def incremental_fuzzy_dedup(
    arriving: DataFrame,
    existing_bands: DataFrame,
    existing_ts: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_sig: int = 8,
    n_bands: int = 4,
    threshold: float = 0.5,
    prior_bands: DataFrame | None = None,
    prior_ts: DataFrame | None = None,
) -> DataFrame:
    """Fuzzy-dedup an ARRIVING batch against a persisted corpus index —
    the production nightly-increment shape, STAGED the way real
    pipelines run it:

    1. **Exact stage** — canonical token-set fingerprints (md5 of the
       sorted set; the index stores them precomputed as ``tsfp``)
       equi-join arrivals against the index and their lower-id
       batch-mates. Identical-copy mass — the dominant duplicate class
       in an increment — exits here for the cost of a slim hash join,
       BEFORE any band bucketing: without this stage a clone-heavy
       batch pays a quadratic verify (r12 scale check: 39x wall at 10x
       on the clone corpus; staged, the same corpus runs linear
       because every clone exits at the exact stage).
    2. **Fuzzy stage** — only arrivals with NO exact match anywhere
       are re-hashed: MinHash band join vs the persisted index plus a
       within-batch self-join (lower id = earlier arrival), EXACT
       Jaccard verification of every candidate.

    Admission is the deterministic one-pass policy: dropped iff
    matching (exactly, or at jaccard_dist <= threshold) ANY existing
    doc or ANY lower-id batch-mate — greedy against the union corpus,
    no recursive cluster chasing, so the verdict is SQL-replayable and
    partitioning-independent. The corpus side is never re-tokenized or
    re-hashed: increments cost O(batch + matches), not O(corpus).

    Returns one row PER ARRIVAL (empty-token docs included — nothing
    to hash means nothing to match): [doc_id, stage ('exact_dup' |
    'fuzzy_dup' | 'admitted'), n_existing_matches, n_batch_matches,
    best_match_id, best_match_dist, admitted]. Counts are per-stage:
    exact rows count fingerprint matches, fuzzy rows count verified
    fuzzy matches.

    ``prior_bands``/``prior_ts`` (optional) carry EARLIER INCREMENTS of
    the same ingestion run — every id strictly below this batch's (the
    ordered-replay contract). Their matches count as BATCH matches, so
    processing one logical batch in N ordered chunks yields manifests
    IDENTICAL to the single-shot call (the multi-increment replay
    query pins that equality) — the greedy-vs-union policy is
    chunking-invariant by construction.
    """
    arr_ids = arriving.select(F.col(id_col).alias("id")).distinct()
    # batch-sized and referenced by BOTH stages from ~8 branches
    # (fingerprint joins, two band tables, verify sides): checkpoint so
    # the tokenize+hash lineage runs once, not per branch
    ats = (
        minhash_token_sets(arriving, id_col, tokens_col)
        .withColumn("tsfp", token_set_fingerprint(F.col("ts")))
        .localCheckpoint(eager=True)
    )
    ets = existing_ts
    if "tsfp" not in ets.columns:
        ets = ets.withColumn("tsfp", token_set_fingerprint(F.col("ts")))

    # ---- stage 1: exact set-fingerprint matches -------------------------
    # NO pair enumeration: per-match rows would be quadratic on a
    # clone-heavy batch (10 copies x 10 copies per fingerprint bucket
    # — measured 67s at 10x before this shape). The exact counts are
    # fingerprint-bucket statistics instead: one aggregate over the
    # slim index projection (fp -> count + min id) joined 1:1, and a
    # per-fp window over the batch for lower-id-mate counts.
    fp_stats = ets.groupBy("tsfp").agg(
        F.count(F.lit(1)).alias("__cnt_e"),
        F.min("id").alias("__min_e"),
    )
    w_fp = Window.partitionBy("tsfp").orderBy("id")
    staged = (
        ats.select("id", "tsfp")
        .withColumn("__rn", F.row_number().over(w_fp))
        .withColumn("__first_mate", F.first("id").over(w_fp))
        .join(fp_stats, "tsfp", "left")
    )
    if prior_ts is not None:
        pts = prior_ts
        if "tsfp" not in pts.columns:
            pts = pts.withColumn("tsfp", token_set_fingerprint(F.col("ts")))
        prior_stats = pts.groupBy("tsfp").agg(
            F.count(F.lit(1)).alias("__cnt_p"),
            F.min("id").alias("__min_p"),
        )
        staged = staged.join(prior_stats, "tsfp", "left")
    else:
        staged = staged.withColumn(
            "__cnt_p", F.lit(None).cast("long")
        ).withColumn("__min_p", F.lit(None).cast("long"))
    exact_agg = (
        staged.filter(
            (F.coalesce("__cnt_e", F.lit(0)) > 0)
            | (F.coalesce("__cnt_p", F.lit(0)) > 0)
            | (F.col("__rn") > 1)
        )
        .select(
            F.col("id").alias("aid"),
            F.coalesce("__cnt_e", F.lit(0))
            .cast("long")
            .alias("n_existing_matches"),
            (F.coalesce("__cnt_p", F.lit(0)) + F.col("__rn") - 1)
            .cast("long")
            .alias("n_batch_matches"),
            F.least(
                "__min_e",
                "__min_p",
                F.when(F.col("__rn") > 1, F.col("__first_mate")),
            ).alias("best_match_id"),
        )
        .withColumn("best_match_dist", F.lit(0.0))
        .withColumn("stage", F.lit("exact_dup"))
    )

    # ---- stage 2: fuzzy, only for arrivals with no exact match ----------
    fts = ats.join(exact_agg.select("aid"), ats.id == F.col("aid"), "left_anti")
    abands = minhash_band_table(
        fts.select("id", "ts"), n_sig=n_sig, n_bands=n_bands
    )

    def _verify(cand: DataFrame, left_ts: DataFrame, right_ts: DataFrame):
        xa = left_ts.select(F.col("id").alias("aid"), F.col("ts").alias("ta"))
        xb = right_ts.select(
            F.col("id").alias("mid"), F.col("ts").alias("tb")
        )
        inter = F.size(F.array_intersect("ta", "tb"))
        union = F.size("ta") + F.size("tb") - inter
        return (
            cand.join(xa, "aid")
            .join(xb, "mid")
            .withColumn(
                "dist",
                F.round(F.lit(1.0) - inter.cast("double") / union, 6),
            )
            .filter(F.col("dist") <= threshold)
            .select("aid", "mid", "dist")
        )

    cand_exist = _dedup_pairs_wide(
        abands.alias("a")
        .join(
            existing_bands.alias("e"),
            (F.col("a.band") == F.col("e.band"))
            & (F.col("a.bh") == F.col("e.bh")),
        )
        .select(F.col("a.id").alias("aid"), F.col("e.id").alias("mid")),
        "aid",
        "mid",
    )
    # right side: ALL lower-id batch-mates (greedy-vs-union policy),
    # whose bands come from the full arriving set
    all_abands = minhash_band_table(
        ats.select("id", "ts"), n_sig=n_sig, n_bands=n_bands
    )
    cand_intra = _dedup_pairs_wide(
        abands.alias("a")
        .join(
            all_abands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") > F.col("b.id")),
        )
        .select(F.col("a.id").alias("aid"), F.col("b.id").alias("mid")),
        "aid",
        "mid",
    )
    fuzzy = _verify(
        cand_exist, fts.select("id", "ts"), ets.select("id", "ts")
    ).withColumn("from_batch", F.lit(False)).unionByName(
        _verify(
            cand_intra, fts.select("id", "ts"), ats.select("id", "ts")
        ).withColumn("from_batch", F.lit(True))
    )
    if prior_bands is not None:
        cand_prior = _dedup_pairs_wide(
            abands.alias("a")
            .join(
                prior_bands.alias("p"),
                (F.col("a.band") == F.col("p.band"))
                & (F.col("a.bh") == F.col("p.bh")),
            )
            .select(F.col("a.id").alias("aid"), F.col("p.id").alias("mid")),
            "aid",
            "mid",
        )
        fuzzy = fuzzy.unionByName(
            _verify(
                cand_prior, fts.select("id", "ts"),
                prior_ts.select("id", "ts"),
            ).withColumn("from_batch", F.lit(True))
        )
    fuzzy_agg = fuzzy.groupBy("aid").agg(
        F.sum((~F.col("from_batch")).cast("long")).alias(
            "n_existing_matches"
        ),
        F.sum(F.col("from_batch").cast("long")).alias("n_batch_matches"),
        F.min_by("mid", F.struct("dist", "mid")).alias("best_match_id"),
        F.min("dist").alias("best_match_dist"),
    ).withColumn("stage", F.lit("fuzzy_dup"))

    verdicts = exact_agg.unionByName(fuzzy_agg)
    return (
        arr_ids.join(verdicts, arr_ids.id == verdicts.aid, "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("stage", F.lit("admitted")).alias("stage"),
            F.coalesce("n_existing_matches", F.lit(0))
            .cast("long")
            .alias("n_existing_matches"),
            F.coalesce("n_batch_matches", F.lit(0))
            .cast("long")
            .alias("n_batch_matches"),
            "best_match_id",
            "best_match_dist",
            F.col("aid").isNull().alias("admitted"),
        )
    )
