"""Topic-model quality metrics + HDP emulation (M2, M25, M26).

- ``log_perplexity`` — MLlib's held-out likelihood metric
  (reference ``coherence_log_perplexity.py:36-43``).
- ``umass_coherence`` — u_mass topic coherence as a pure DataFrame
  aggregation (reference ``coherence_log_perplexity.py:45-52``, gensim
  CoherenceModel(coherence='u_mass')): top-n terms per topic from
  ``describeTopics`` joined against the doc-term incidence table,
  pairwise co-document counts, then
  sum over ordered pairs (i>j) of ln((D(wi,wj)+1)/D(wj)).
  No MLlib equivalent exists — this is the documented custom
  aggregation (SURVEY §4.3).
- ``hdp_emulation`` — the reference's nonparametric HDP
  (``wiki_hdp.py:19-26``, T=1000 truncation) has no distributed
  equivalent; we emulate with LDA at large k and post-hoc pruning of
  low-mass topics (documented deviation, SURVEY §7.3), mirroring
  ``suggested_lda_model()`` (wiki_hdp.py:25).
"""

from __future__ import annotations

from pyspark.ml.clustering import LDA, LDAModel
from pyspark.ml.stat import Summarizer
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.dispatch import spread


def log_perplexity(model: LDAModel, corpus: DataFrame) -> float:
    """M25: upper bound on negative log-likelihood per token."""
    return float(model.logPerplexity(corpus))


def doc_term_incidence(corpus: DataFrame, features_col: str = "features",
                       id_col: str = "doc_id") -> DataFrame:
    """(doc_id, term_id) distinct incidence pairs from TF vectors."""
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array(F.col(features_col))
    return (
        corpus.select(id_col, F.posexplode(arr).alias("term_id", "tf"))
        .filter(F.col("tf") > 0)
        .select(id_col, "term_id")
    )


def umass_coherence(
    model: LDAModel,
    corpus: DataFrame,
    top_n: int = 10,
    id_col: str = "doc_id",
    features_col: str = "features",
) -> DataFrame:
    """M26: per-topic u_mass coherence.

    Returns DataFrame[topic, coherence]. All heavy work is two
    aggregations over the incidence table; the topic-term lists are tiny
    (k × top_n) and broadcast.
    """
    topics = model.describeTopics(top_n).select(
        "topic", F.posexplode("termIndices").alias("rank", "term_id")
    )
    # restrict the incidence table to the k×top_n topic terms FIRST —
    # the co-occurrence self-join below is then O(top_terms² per doc)
    # instead of O(vocab² per doc), and the aggregated `co` table is at
    # most (k·top_n)² rows, safely broadcastable at any corpus size
    terms = topics.select("term_id").distinct()
    inc = (
        doc_term_incidence(corpus, features_col, id_col)
        .join(F.broadcast(terms), "term_id")
        .cache()
    )
    try:
        # D(w): document frequency per top term
        docfreq = inc.groupBy("term_id").agg(
            F.countDistinct(id_col).alias("df")
        )

        # D(wi, wj): co-document counts for ordered pairs within a topic
        ti = topics.select("topic", F.col("rank").alias("rank_i"), F.col("term_id").alias("term_i"))
        tj = topics.select("topic", F.col("rank").alias("rank_j"), F.col("term_id").alias("term_j"))
        pairs = ti.join(tj, "topic").filter(F.col("rank_i") > F.col("rank_j"))

        inc_i = inc.select(F.col(id_col).alias("d"), F.col("term_id").alias("term_i"))
        inc_j = inc.select(F.col(id_col).alias("d2"), F.col("term_id").alias("term_j"))
        co = (
            inc_i.join(inc_j, (F.col("d") == F.col("d2")))
            .groupBy("term_i", "term_j")
            .agg(F.count(F.lit(1)).alias("co_df"))
        )

        scored = (
            pairs.join(F.broadcast(co), ["term_i", "term_j"], "left")
            .join(F.broadcast(docfreq.select(F.col("term_id").alias("term_j"), "df")), "term_j")
            .fillna({"co_df": 0})
            .withColumn("score", F.log((F.col("co_df") + 1.0) / F.col("df")))
        )
        return scored.groupBy("topic").agg(
            F.round(F.sum("score"), 6).alias("coherence")
        ).localCheckpoint(eager=True)
    finally:
        inc.unpersist()


def hdp_emulation(
    corpus: DataFrame,
    truncation_k: int = 50,
    mass_threshold: float = 0.005,
    max_iter: int = 20,
    features_col: str = "features",
    seed: int = 42,
) -> tuple[LDAModel, DataFrame]:
    """M2: LDA at truncation-level k, then prune topics by corpus mass.

    Returns (model, DataFrame[topic, corpus_mass, kept]). The suggested
    topic count = number of kept topics — the analogue of HDP's
    suggested_lda_model export.
    """
    lda = LDA(k=truncation_k, maxIter=max_iter, seed=seed,
              optimizer="online", featuresCol=features_col)
    model = lda.fit(corpus)
    dist = model.transform(corpus)
    mean_vec = dist.select(
        Summarizer.mean(F.col("topicDistribution")).alias("m")
    ).first()["m"]
    rows = [(i, float(v)) for i, v in enumerate(mean_vec)]
    spark = corpus.sparkSession
    total = sum(v for _, v in rows)
    masses = (
        spark.createDataFrame(rows, ["topic", "corpus_mass"])
        .withColumn("kept", F.col("corpus_mass") >= F.lit(mass_threshold))
        # hard harness-enforced invariants: each mass is a probability
        # and the truncation-k masses sum to 1 (a proper distribution)
        .withColumn(
            "ok_mass_range",
            (F.col("corpus_mass") >= 0) & (F.col("corpus_mass") <= 1),
        )
        .withColumn("ok_total_mass", F.lit(abs(total - 1.0) < 1e-6))
    )
    return model, masses


def cv_coherence(
    model: LDAModel,
    tokens_df: DataFrame,
    vocabulary: list,
    top_n: int = 10,
    window: int = 110,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """c_v topic coherence (Röder et al. 2015) — the reference defines it
    but ships it disabled (``coherence_log_perplexity.py:45-52``,
    ``coherence='c_v'`` commented out).

    Faithful to gensim's estimator: boolean SLIDING windows of size
    ``window`` with step 1 (a doc of n tokens contributes
    max(n − window + 1, 1) virtual documents). Enumerating n windows per
    doc would explode the data ~110×, so window membership is counted
    via interval unions instead: a term occurrence at position p is
    present in windows [p−window+1, p] (clipped); per (doc, term) those
    intervals are merged into a disjoint union (sort + fold, all HOF
    expressions), so |windows(w)| and |windows(wi) ∩ windows(wj)| are
    exact interval-length sums/overlaps — identical counts to explicit
    enumeration at ~1/window the rows. Then: NPMI matrix + per-term
    cosine against the topic's summed NPMI vector — k×top_n×top_n
    scalars, finished with numpy on the driver.

    Returns DataFrame[topic, cv_coherence].
    """
    import numpy as np

    spark = tokens_df.sparkSession
    # the shared corpus arrives as ONE cached partition at bench scale;
    # the per-token posexplode + interval folds below are row-local and
    # every downstream count is an exact integer interval sum, so
    # spreading is value-neutral (r13, guide §2.5; never touches the
    # shared cached frame itself — fits stay on the original layout)
    tokens_df = spread(tokens_df)
    topics = model.describeTopics(top_n).select(
        "topic", F.posexplode("termIndices").alias("rank", "term_id")
    ).collect()
    term_ids = sorted({r["term_id"] for r in topics})
    id2tok = {t: vocabulary[t] for t in term_ids}
    terms_df = spark.createDataFrame(
        [(tok, tid) for tid, tok in id2tok.items()], "token string, term_id int"
    )

    nw = tokens_df.select(
        F.col(id_col).alias("d"),
        F.greatest(
            F.size(tokens_col).cast("long") - F.lit(window - 1),
            F.lit(1).cast("long"),
        ).alias("nw"),
    )
    n_windows = nw.agg(F.sum("nw")).first()[0]

    pos = tokens_df.select(
        F.col(id_col).alias("d"), F.posexplode(tokens_col).alias("p", "token")
    )
    # occurrence at p → window-index interval [p-window+1, p] clipped to
    # the valid window range [0, nw-1]
    occ_iv = (
        pos.join(F.broadcast(terms_df), "token")
        .join(nw, "d")
        .select(
            "d",
            "term_id",
            F.greatest(
                F.col("p").cast("long") - F.lit(window - 1),
                F.lit(0).cast("long"),
            ).alias("lo"),
            F.least(F.col("p").cast("long"), F.col("nw") - 1).alias("hi"),
        )
    )
    ivs = occ_iv.groupBy("d", "term_id").agg(
        F.array_sort(F.collect_list(F.struct("lo", "hi"))).alias("ivs")
    )
    empty = F.expr("CAST(array() AS array<struct<lo:bigint,hi:bigint>>)")

    def _merge(acc, iv):
        last = F.element_at(acc, -1)
        grown = F.concat(
            F.slice(acc, F.lit(1), F.size(acc) - 1),
            F.array(
                F.struct(
                    last["lo"].alias("lo"),
                    F.greatest(last["hi"], iv["hi"]).alias("hi"),
                )
            ),
        )
        appended = F.concat(
            acc, F.array(F.struct(iv["lo"].alias("lo"), iv["hi"].alias("hi")))
        )
        return F.when(
            (F.size(acc) > 0) & (iv["lo"] <= last["hi"]), grown
        ).otherwise(appended)

    spans = (
        ivs.select("d", "term_id", F.aggregate("ivs", empty, _merge).alias("m"))
        .select("d", "term_id", F.explode("m").alias("iv"))
        .select(
            "d", "term_id",
            F.col("iv.lo").alias("lo"), F.col("iv.hi").alias("hi"),
        )
        .cache()
    )
    try:
        si = spans.select(
            "d", F.col("term_id").alias("ti"),
            F.col("lo").alias("lo_i"), F.col("hi").alias("hi_i"),
        )
        sj = spans.select(
            "d", F.col("term_id").alias("tj"),
            F.col("lo").alias("lo_j"), F.col("hi").alias("hi_j"),
        )
        # both sides are disjoint unions, so the pairwise overlap sum is
        # exactly |windows(ti) ∩ windows(tj)|. r14 (guide §1.2): the
        # join keeps ti <= tj so the DIAGONAL rides along — a span's
        # overlap with itself is its own length, and distinct spans of
        # one term are disjoint (ov <= 0, filtered) — making
        # sum(ov | ti == tj) exactly |windows(t)|. One aggregation pass
        # replaces the separate per-term count job; the integers are
        # identical by construction.
        overlap = F.least("hi_i", "hi_j") - F.greatest("lo_i", "lo_j") + 1
        pair_rows = (
            si.join(sj, "d")
            .filter(F.col("ti") <= F.col("tj"))
            .withColumn("ov", overlap)
            .filter(F.col("ov") > 0)
            .groupBy("ti", "tj")
            .agg(F.sum("ov").alias("n"))
            .collect()
        )
    finally:
        spans.unpersist()
    wcount = {r["ti"]: r["n"] for r in pair_rows if r["ti"] == r["tj"]}
    co = {
        (r["ti"], r["tj"]): r["n"] for r in pair_rows if r["ti"] < r["tj"]
    }

    eps = 1e-12
    def npmi(i, j):
        if i == j:
            return 1.0
        key = (min(i, j), max(i, j))
        pij = co.get(key, 0) / n_windows
        pi = wcount.get(i, 0) / n_windows
        pj = wcount.get(j, 0) / n_windows
        if pij <= 0 or pi <= 0 or pj <= 0:
            return 0.0
        return float(np.log((pij + eps) / (pi * pj)) / -np.log(pij + eps))

    by_topic: dict[int, list[int]] = {}
    for r in topics:
        by_topic.setdefault(r["topic"], []).append(r["term_id"])
    out = []
    for t, terms in sorted(by_topic.items()):
        M = np.array([[npmi(i, j) for j in terms] for i in terms])
        topic_vec = M.sum(axis=0)
        sims = []
        for i in range(len(terms)):
            nv, nt = np.linalg.norm(M[i]), np.linalg.norm(topic_vec)
            sims.append(float(M[i] @ topic_vec / (nv * nt)) if nv > 0 and nt > 0 else 0.0)
        out.append((t, round(float(np.mean(sims)), 6)))
    return spark.createDataFrame(out, "topic int, cv_coherence double")


def suggested_lda_export(
    model: LDAModel,
    masses: DataFrame,
    vocabulary: list,
    top_n: int = 50,
) -> DataFrame:
    """M2 completion (round 12): the ``suggested_lda_model`` EXPORT
    path of ``wiki_hdp.py:25`` — materialize the PRUNED topic set as
    an LDA initialization artifact.

    gensim's ``HdpModel.suggested_lda_model()`` copies the HDP
    topic-term distribution into a fresh LDA; the distributed analogue
    takes the truncation fit's kept topics (mass-pruned, see
    :func:`hdp_emulation`), renumbers them densely 0..k'-1, and emits
    one row per (new_topic, term): ``[new_topic, old_topic, term_id,
    term, init_weight]`` with ``init_weight`` renormalized to sum to 1
    within each exported topic — a proper row-stochastic topic-term
    table any LDA implementation can start from. ``top_n`` bounds the
    per-topic support (sparse init, the practical form at 65k vocab);
    renormalization happens over the exported support.

    All relations are model-sized (k' x top_n rows), never
    corpus-sized — the only corpus pass already happened inside the
    truncation fit.
    """
    spark = masses.sparkSession
    kept = sorted(
        r["topic"] for r in masses.filter("kept").select("topic").collect()
    )
    renumber = {old: new for new, old in enumerate(kept)}
    if not kept:  # degenerate: nothing survives pruning — empty export
        return spark.createDataFrame(
            [],
            "new_topic int, old_topic int, term_id int, term string, "
            "init_weight double",
        )
    topics = (
        model.describeTopics(top_n)
        .filter(F.col("topic").isin(kept))
        .select(
            "topic",
            F.arrays_zip("termIndices", "termWeights").alias("tw"),
        )
        .select("topic", F.explode("tw").alias("z"))
        .select(
            F.col("topic").alias("old_topic"),
            F.col("z.termIndices").cast("int").alias("term_id"),
            F.col("z.termWeights").cast("double").alias("w"),
        )
    )
    renum = spark.createDataFrame(
        [(o, n) for o, n in renumber.items()], "old_topic int, new_topic int"
    )
    vocab_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(vocabulary)], "term_id int, term string"
    )
    norm = Window.partitionBy("old_topic")
    return (
        topics.join(F.broadcast(renum), "old_topic")
        .join(F.broadcast(vocab_df), "term_id")
        .withColumn("init_weight", F.col("w") / F.sum("w").over(norm))
        .select("new_topic", "old_topic", "term_id", "term", "init_weight")
    )
