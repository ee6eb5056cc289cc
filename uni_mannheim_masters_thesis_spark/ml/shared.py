"""Cross-query shared-artifact cache for expensive ML intermediates.

The registry exposes one query per operator (driver contract), but
several operators legitimately share the same expensive upstream
artifact — e.g. ``topic_coherence_umass`` (M26), ``lda_log_perplexity``
(M25) and ``hdp_topic_mass`` (M2) all start from the same tokenized
corpus, and M25/M26 evaluate the *same* LDA fit in the reference
(``coherence_log_perplexity.py:36-55`` scores one saved model with both
metrics). Re-fitting per query would triple the wall-clock of the
correctness/bench run without changing any result, so shared artifacts
are memoized here per (SparkSession, sf_dir, params) through
:func:`memo` — the one memo every session-shared artifact goes through.

Keys hold the ``SparkSession`` object itself (it hashes by identity),
so a fresh session never sees another session's cached DataFrames —
not even a ``spark.newSession()`` sibling on the same SparkContext,
which is what lets the 3-vs-64 shuffle-partition determinism gate
exercise every shared build under both partition counts. Entries hold
cached DataFrames / fitted models only — all deterministic given the
seed, so sharing is observationally equivalent to re-fitting.
"""

from __future__ import annotations

import threading
import time
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import BUILD_WALLS  # the one build record, re-exported

T = TypeVar("T")

#: Serializes shared-artifact builds across driver threads (the test
#: harness runs independent queries through a thread pool, and two
#: simultaneous cache misses would otherwise both build the same
#: multi-second artifact). Reentrant because builds nest (a build may
#: call :func:`memo` for its own upstream artifact). Steady-state
#: readers pay one uncontended acquire.
BUILD_LOCK = threading.RLock()

_CACHE: dict[tuple, object] = {}


def memo(
    spark: SparkSession, sf_dir: str, tag: str, build: Callable[[], T]
) -> T:
    """``build()`` once per (session, sf_dir, tag); every later call in
    that session returns the same object. The miss-check, build and
    insert run under :data:`BUILD_LOCK`, so concurrent first calls build
    once, and the build's wall lands in ``BUILD_WALLS[tag]``."""
    key = (spark, sf_dir.rstrip("/"), tag)
    with BUILD_LOCK:
        if key not in _CACHE:
            t0 = time.time()
            _CACHE[key] = build()
            BUILD_WALLS[tag] = round(time.time() - t0, 3)
        return _CACHE[key]


def shared_corpus(
    spark: SparkSession, sf_dir: str, vocab_size: int = 1 << 16
):
    """documents → tokens_pipeline → CountVectorizer TF corpus (cached).

    Returns (CountVectorizerModel, corpus DataFrame). One vocabulary
    group-count shuffle total across every consumer query.
    """
    from ..functions.text import tokens_pipeline
    from ..sources.testdata import load_table
    from .topics import vectorize

    def build():
        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id", tokens_pipeline(F.col("text")).alias("tokens")
        ).filter(F.size("tokens") > 0)
        model, corpus = vectorize(toks, vocab_size=vocab_size)
        return model, corpus.cache()

    return memo(spark, sf_dir, f"corpus/{vocab_size}", build)


def shared_lda(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    max_iter: int = 5,
    vocab_size: int = 1 << 16,
):
    """One LDA fit per (k, max_iter) over the shared corpus.

    Returns (LDAModel, corpus DataFrame).
    """
    from .topics import fit_lda

    _, corpus = shared_corpus(spark, sf_dir, vocab_size)
    model = memo(
        spark, sf_dir, f"lda/{vocab_size}/{k}/{max_iter}",
        lambda: fit_lda(corpus, k=k, max_iter=max_iter),
    )
    return model, corpus


def shared_embedding_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → MLlib features + binary label (cached).

    The shared input of the M16/M22/M24 queries (grid search, adaptive
    search, hold-out transfer, MLP) — one scan + vector conversion total.
    """
    from pyspark.ml.functions import array_to_vector

    from ..sources.testdata import load_table

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return emb.select(
            "vec_id",
            array_to_vector(F.col("embedding").cast("array<double>")).alias(
                "features"
            ),
            (F.col("label") < 5).cast("double").alias("label"),
        ).cache()

    return memo(spark, sf_dir, "emb_features", build)


def shared_doc_feature_table(
    spark: SparkSession, sf_dir: str, k: int = 10, max_iter: int = 5
) -> DataFrame:
    """The supervised pipeline's document feature table (M5: LDA topic
    vector + length feature + derived label), cached — shared by the
    classifier battery and any consumer that scores document features."""
    from ..plans.supervised import build_feature_table

    return memo(
        spark, sf_dir, f"doc_features/{k}/{max_iter}",
        lambda: build_feature_table(
            spark, sf_dir, k=k, max_iter=max_iter
        ).cache(),
    )


def shared_scaled_doc_split(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """80/20 split + train-fit StandardScaler over the doc feature
    table, both sides cached with the scaled vector as ``features`` —
    shared by the classifier battery, ``mlp_classifier`` and
    ``kernel_svm_rff`` (M17+M19 run once per session, not per query).
    Deterministic: seeded split, scaler params a pure function of the
    train rows."""
    from .classify import scale_features, train_test_split

    def build():
        data = shared_doc_feature_table(spark, sf_dir)
        train, test = scale_features(*train_test_split(data))
        return tuple(
            df.select(F.col("features_scaled").alias("features"), "label")
            .cache()
            for df in (train, test)
        )

    return memo(spark, sf_dir, "doc_split_scaled", build)


def shared_kernel_sweep_prep(spark: SparkSession, sf_dir: str) -> dict:
    """Session-shared :func:`ml.kernel.sweep_prep` bundle over the
    shared scaled split — the cached per-γ RFF frames, per-degree exact
    poly expansions, driver slices and conditioning constants the
    33-config sweep consumes. Deterministic given (split, seed, grid),
    so sharing is observationally equivalent to rebuilding per
    invocation; the LinearSVC fits themselves still run on every call
    (only inputs are shared, never results)."""
    from .kernel import sweep_prep

    return memo(
        spark, sf_dir, "kernel_sweep_prep",
        lambda: sweep_prep(*shared_scaled_doc_split(spark, sf_dir)),
    )


def shared_mlp_blocks(spark: SparkSession, sf_dir: str):
    """Cached numpy-block RDD form of the shared scaled split (the
    adaptive_search_mlp objective's input): ((blocks, n, dim) train,
    (blocks, n, dim) test). Deterministic — a pure re-layout of the
    shared split."""
    from .mlp import mlp_blocks

    return memo(
        spark, sf_dir, "mlp_blocks",
        lambda: tuple(
            mlp_blocks(df) for df in shared_scaled_doc_split(spark, sf_dir)
        ),
    )


def shared_pq(spark: SparkSession, sf_dir: str, m: int = 8, k: int = 16,
              iters: int = 2):
    """Quantized embedding frame (cached) + per-subspace PQ codebooks —
    shared by ``pq_encode_codes`` (full-corpus encode) and
    ``pq_ann_recall`` (ADC search): training is ITERS+1 scans per
    subspace and runs once per session. Deterministic per the integer
    Lloyd contract in ml.cluster, so sharing is observationally
    equivalent to retraining."""
    from ..sources.testdata import load_table
    from .cluster import PQ_TRAIN_SAMPLE_CAP, pq_train_rows, quantize_vectors

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        quant = quantize_vectors(emb).cache()
        # ONE bounded collect (also materializes the cache) feeds both
        # the numpy codebook trainer and the recall probes
        # collect unsorted (a distributed orderBy pays a range-sampling
        # job + sort exchange for a bounded list) and sort driver-side
        sample = sorted(
            quant.filter(F.col("vec_id") < PQ_TRAIN_SAMPLE_CAP).collect(),
            key=lambda r: int(r["vec_id"]),
        )
        return quant, pq_train_rows(sample, m=m, k=k, iters=iters), sample

    return memo(spark, sf_dir, f"pq/{m}/{k}/{iters}", build)


def shared_pq_codes(spark: SparkSession, sf_dir: str, m: int = 8,
                    k: int = 16, iters: int = 2):
    """The full-corpus PQ code table (vec_id, code0..code{m-1}, qerr_q),
    CACHED: the 128-lambda literal-baked encode projection is analyzed
    and computed once per session — ``pq_encode_codes`` returns it and
    ``pq_ann_recall``'s ADC scan reuses it (the code table IS what ADC
    reads instead of raw vectors, so sharing mirrors the deployment
    shape where codes are a materialized artifact)."""
    from .cluster import pq_codes_projection

    def build():
        quant, books, _sample = shared_pq(spark, sf_dir, m=m, k=k, iters=iters)
        return pq_codes_projection(quant, books, with_qerr=True).cache()

    return memo(spark, sf_dir, f"pq_codes/{m}/{k}/{iters}", build)


def shared_neardup_components(
    spark: SparkSession, sf_dir: str, id_cap: int = 300, threshold: float = 0.3
) -> DataFrame:
    """Connected components over the cosine near-dup graph (vec_id <
    ``id_cap``, similarity >= ``threshold``) — shared by
    ``neardup_clusters`` (the component relation itself) and
    ``dedup_canonical`` (the keep-one manifest built on top of it).

    Safe to memoize: min-label propagation is order-independent (the
    fixpoint is the unique smallest-reachable-id labeling) and
    ``connected_components`` materializes via localCheckpoint
    internally, so the cached frame is a finished deterministic result,
    not a live lineage. The partition-determinism gate still validates
    both consumers against DuckDB's recursive-CTE closure on every run.
    """
    from ..operators.dedup import connected_components

    return memo(
        spark, sf_dir, f"neardup_cc/{id_cap}/{threshold}",
        lambda: connected_components(
            shared_neardup_pairs(spark, sf_dir, id_cap, threshold)
        ),
    )


def shared_neardup_pairs(
    spark: SparkSession, sf_dir: str, id_cap: int = 300, threshold: float = 0.3
) -> DataFrame:
    """The cosine near-dup pair relation (id_a < id_b, similarity >=
    ``threshold`` over vec_id < ``id_cap``) — the edge list under
    ``neardup_clusters`` / ``dedup_canonical`` (via the component
    fixpoint) and ``neardup_pagerank`` (centrality over the same
    graph). Memoized as a materialized deterministic frame: the pair
    predicate is a pure threshold on an exact HOF-fold cosine, so the
    relation is identical under any partitioning."""
    from ..functions.similarity import dot
    from ..sources.testdata import load_table

    def build():
        emb = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < id_cap
        )
        # norms precomputed ONCE per vector (not per pair): the pair
        # predicate dot(a,b)/(sqrt(dot(a,a))*sqrt(dot(b,b))) evaluates
        # the same doubles either way — sqrt(dot(v,v)) is one value per
        # vector — but per-row precomputation cuts the O(n²) stage's
        # fold work to a third (one dot per pair instead of three).
        v = F.col("embedding").cast("array<double>")
        base = emb.select(
            "vec_id", v.alias("v"), F.sqrt(dot(v, v)).alias("nrm")
        )
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
        sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .filter(sim >= threshold)
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )

    return memo(
        spark, sf_dir, f"neardup_pairs/{id_cap}/{threshold}", build
    )


def shared_exact_knn_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact brute-force 5-NN majority vote over the embeddings
    probe/corpus split — shared by ``knn_classifier_vote`` (the result
    itself) and ``knn_vote_lsh`` (which compares its LSH-path vote
    against it). Deterministic (explicit distance+id tiebreakers), so
    memoizing the ~25-row materialized result is observationally
    equivalent to recomputing; both consumers stay oracle-checked.
    """
    from ..operators.similarity_search import knn_bruteforce, majority_vote
    from ..sources.testdata import load_table

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        # fixed probe PANEL (vec_id < 5000 is a no-op at sf <= 0.1):
        # classifier evaluation scores a bounded holdout — only the
        # CORPUS side grows with scale. Without the cap the probe count
        # scales with the data and the probe x candidate product goes
        # quadratic (sf1 evidence: knn_vote_lsh 127 s -> bounded panel)
        probes = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 5000))
        corpus = emb.filter(F.col("vec_id") % 20 != 0)
        nn = knn_bruteforce(corpus, probes, k=5)
        labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
        return majority_vote(nn, labels).localCheckpoint(eager=True)

    return memo(spark, sf_dir, "exact_knn_vote/5/20", build)


def shared_hdp(
    spark: SparkSession,
    sf_dir: str,
    truncation_k: int = 20,
    max_iter: int = 5,
):
    """One HDP-emulation fit (LDA at truncation + mass table) per
    session — shared by ``hdp_topic_mass`` and the round-12
    ``hdp_suggested_lda`` export so the M2 family pays one truncation
    fit, exactly like the M25/M26 pair shares one LDA."""
    from .topic_quality import hdp_emulation

    _, corpus = shared_corpus(spark, sf_dir)

    def build():
        model, masses = hdp_emulation(
            corpus, truncation_k=truncation_k, max_iter=max_iter
        )
        return model, masses.localCheckpoint(eager=True)

    return memo(spark, sf_dir, f"hdp/{truncation_k}/{max_iter}", build)
