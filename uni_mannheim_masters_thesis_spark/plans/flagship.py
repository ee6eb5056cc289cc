"""Flagship end-to-end query: the polysemy pipeline over ``documents``.

This is the engine's minimum end-to-end slice (SURVEY §7.1 M0): the full
reference dataflow — clean/tokenize (T1-T4, P4-P5, P8) → vocabulary + BoW
(A1/A2) → LDA (M1) → topic inference + probability floor (M3/P10) →
polysemy rule (M4) → aggregate report (A6) — as ONE lazy DataFrame chain
per stage, mirroring ``polysemous_words.py:245-289`` (driver) and
``Read_And_Clean.py`` (cleaning).

Scale notes (100 TB): the only shuffles are the CountVectorizer vocabulary
group-count and the final small aggregate; LDA's online optimizer runs
distributed mini-batch jobs over the cached corpus; nothing collects to
the driver except the k×V topic matrix inside MLlib.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import MIN_DOC_WORDS, tokens_pipeline
from ..operators.dispatch import spread
from ..ml.topics import (
    MIN_TOPIC_PROBABILITY,
    MIN_TOPICS_POLYSEMOUS,
    fit_lda,
    infer_topics,
    polysemy_n_topics,
    vectorize,
)
from ..sources.testdata import load_table


def flagship_polysemy(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    max_iter: int = 5,  # reference LdaMulticore passes=5 (webisalod_lda.py:55)
    min_probability: float = MIN_TOPIC_PROBABILITY,
    min_topics: int = MIN_TOPICS_POLYSEMOUS,
) -> DataFrame:
    """documents → clean → LDA(k) → polysemy rule → per-lang report."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        "source",
        tokens_pipeline(F.col("text")).alias("tokens"),
    ).filter(F.size("tokens") >= F.lit(MIN_DOC_WORDS))

    # the token pipeline feeds TWO passes (CountVectorizer's vocabulary
    # count and the transform that materializes the corpus) — cache it
    # so tokenize runs once; same rows, same partitioning, so the fit
    # is bit-identical
    toks = toks.cache()
    # cached across the LDA fit's EM iterations and the final transform
    _, corpus = vectorize(toks, vocab_size=1 << 16)
    corpus = corpus.cache()
    model = fit_lda(corpus, k=k, max_iter=max_iter)
    toks.unpersist()
    # the FIT must see the corpus exactly as built (the online
    # optimizer's mini-batch sampling is partitioning-sensitive — the
    # rows-only result contract), but per-doc topic inference is
    # row-local and deterministic: spread the one-file-scan corpus
    # across cores for the transform only. At 100 TB the cached corpus
    # already has a partition per split and this branch never fires.
    dist = infer_topics(model, spread(corpus))
    scored = dist.withColumn(
        "n_topics", polysemy_n_topics(F.col("topicDistribution"), min_probability)
    ).withColumn("is_polysemous", F.col("n_topics") > F.lit(min_topics))
    report = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_polysemous").cast("long")).alias("n_polysemous"),
        F.round(F.avg("n_topics"), 4).alias("avg_topics"),
    )
    # ok_* columns are hard invariants the local harness enforces on
    # rows-only queries: polysemous docs are a subset of the group, and
    # the mean topic count can't leave [0, k] (topicDistribution has k
    # entries) — a violated flag means the rule or inference broke.
    return report.select(
        "lang",
        "n_docs",
        "n_polysemous",
        "avg_topics",
        (
            (F.col("n_polysemous") >= 0)
            & (F.col("n_polysemous") <= F.col("n_docs"))
        ).alias("ok_counts"),
        (
            (F.col("avg_topics") >= 0) & (F.col("avg_topics") <= F.lit(k))
        ).alias("ok_avg_topics"),
    ).orderBy("lang")
