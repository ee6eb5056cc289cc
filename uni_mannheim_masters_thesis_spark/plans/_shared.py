"""Shared infrastructure for the query registry: the ``REGISTRY`` dict
+ ``@_register`` decorator, table/decimal helpers, and the SQL-fragment
builders used across the per-family query modules (``q_*.py``); the
assembly module ``plans.registry`` re-exports everything and applies
the deterministic driver ordering.

Parity rules every query follows (the DuckDB oracle twin is the
driver's correctness gate; they keep the order-insensitive value-hash
exact):

- **Exact arithmetic for big sums.** Money columns are 2-decimal doubles;
  both sides cast to DECIMAL before summing (exact, order-independent),
  then cast back to double and round. Distributed double summation would
  differ from DuckDB's sequential kernel by ~1e-3 at sf0.1 — far above
  any rounding rescue.
- **Identical aliases + explicit integer casts.** DuckDB ``sum(int)`` is
  HUGEINT → always CAST to BIGINT; Spark count/sum(int) is long already.
- **Timestamps as epoch micros** (bigint) — avoids ns-vs-us formatting
  drift between engines.
- **Deterministic total orders** in every top-k / per-group-first
  (explicit tiebreaker keys), so LIMIT contents are unique.
- **Per-row float math in float64 with a sequential fold** (cosine),
  bit-identical between Spark's aggregate HOF and DuckDB's list kernels;
  rounded to 6 digits for safety.

Spark side uses the DataFrame API (Catalyst plans joins/pushdown); the
SQL strings target DuckDB only.
"""

from __future__ import annotations

import math

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    MIN_DOC_WORDS,
    STOPWORDS,
    clean_string,
    sql_clean_string,
    sql_morphy_lemma,
    sql_stopword_list,
    tokens_pipeline,
)
from ..functions.similarity import cosine_similarity, jaro_winkler
from ..operators.dedup import add_simhash, dedup_stats, minhash_lsh_pairs
from ..operators.dispatch import spread as _spread  # noqa: F401 (re-export)
from ..operators.indexing import ordered_dense_rank
from ..operators.evaluation import classification_metrics, confusion_matrix
from ..operators.relational import per_group_first, topk_per_group
from ..operators.similarity_search import knn_bruteforce
from ..operators import textstats as TS
from ..sources.testdata import load_table
from ..streaming.events import streaming_hourly_event_stats

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    sql: str | None  # DuckDB oracle; None → rows-only check
    survey: str      # SURVEY.md §2 operator ids covered
    doc: str


REGISTRY: dict[str, QuerySpec] = {}


def _register(name: str, sql: str | None, survey: str, doc: str):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(fn=fn, sql=sql, survey=survey, doc=doc)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec(col: str | F.Column, prec: str = "decimal(18,2)") -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(prec)


def _dsum(expr: F.Column, ndigits: int = 2) -> F.Column:
    """Exact decimal sum → double, rounded."""
    return F.round(F.sum(expr).cast("double"), ndigits)


# --- SQL fragments -------------------------------------------------------

_SQL_TOKENS = None


def sql_tokens_pipeline(expr: str) -> str:
    """DuckDB twin of functions.text.tokens_pipeline."""
    clean = sql_clean_string(expr)
    split = f"CASE WHEN {clean} = '' THEN [] ELSE str_split({clean}, ' ') END"
    dedigit = f"list_transform({split}, t -> regexp_replace(t, '[0-9]', '', 'g'))"
    nostop = f"list_filter({dedigit}, t -> t NOT IN {sql_stopword_list(STOPWORDS)})"
    return f"list_filter({nostop}, t -> length(t) >= 3 AND t != '')"


def sql_simple_tokens(expr: str) -> str:
    """DuckDB twin of functions.text.tokenize (clean + split, no filters)."""
    clean = sql_clean_string(expr)
    return f"CASE WHEN {clean} = '' THEN [] ELSE str_split({clean}, ' ') END"


_NQUADS_PREFIX = "http://example.org/concept/"


def _nquads_sample_lines() -> list[str]:
    lines = []
    for i in range(20):
        g = f"http://example.org/prov/{i}"
        concept = f"{_NQUADS_PREFIX}thing_{i % 5}_"
        lines.append(
            f"<{concept}> <http://example.org/skos#broader> "
            f"<{_NQUADS_PREFIX}parent_> <{g}> ."
        )
        lines.append(
            f"<{g}> <http://www.w3.org/ns/prov#wasDerivedFrom> "
            f"<http://example.org/deriv/{i}> ."
        )
        lines.append(
            f'<http://example.org/deriv/{i}> <http://www.w3.org/ns/prov#value> '
            f'"a thing {i % 5} is an example sentence number {i}." .'
        )
    return lines


_NQUADS_SAMPLE_LINES = _nquads_sample_lines()


def _nquads_oracle_sql() -> str:
    """DuckDB twin of q_nquads: same raw lines (VALUES), same N-Quads
    regex grammar (sources.nquads._NQ_RE), same traversal:
    per-graph first triple (J1) → prefix predicate + URI→name strip
    (P1/P2) → wasDerivedFrom hop (J2) → prov:value hop (J3)."""
    values = ",\n        ".join(
        "('" + line.replace("'", "''") + "')" for line in _NQUADS_SAMPLE_LINES
    )
    pat = (
        r'^\s*<([^>]*)>\s+<([^>]*)>\s+'
        r'(<[^>]*>|"(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|@\S+)?)\s*'
        r'(?:<([^>]*)>\s*)?\.\s*$'
    )
    p = len(_NQUADS_PREFIX)
    return f"""
    WITH lines(value) AS (VALUES
        {values}
    ),
    parsed AS (
        SELECT regexp_extract(value, '{pat}', 1) AS subject,
               regexp_extract(value, '{pat}', 2) AS predicate,
               regexp_extract(value, '{pat}', 3) AS raw_object,
               regexp_extract(value, '{pat}', 4) AS graph
        FROM lines
        WHERE regexp_extract(value, '{pat}', 1) != ''
    ),
    quads AS (
        SELECT subject, predicate,
               CASE WHEN raw_object LIKE '<%'
                    THEN substring(raw_object, 2, length(raw_object) - 2)
                    ELSE regexp_extract(raw_object, '^"((?:[^"\\\\]|\\\\.)*)"', 1)
               END AS object,
               CASE WHEN graph = '' THEN NULL ELSE graph END AS graph
        FROM parsed
    ),
    concept_per_graph AS (
        SELECT graph AS g, substring(subject, {p + 1}) AS concept
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY graph ORDER BY subject, predicate, object
            ) AS rn
            FROM quads WHERE graph IS NOT NULL
        )
        WHERE rn = 1 AND starts_with(subject, '{_NQUADS_PREFIX}')
    ),
    hop1 AS (
        SELECT subject AS prov_node, object AS derivation FROM quads
        WHERE predicate = 'http://www.w3.org/ns/prov#wasDerivedFrom'
    ),
    hop2 AS (
        SELECT subject AS derivation2, object AS sentence FROM quads
        WHERE predicate = 'http://www.w3.org/ns/prov#value'
    )
    SELECT concept, sentence
    FROM concept_per_graph
    JOIN hop1 ON g = prov_node
    JOIN hop2 ON derivation = derivation2
    """


def _rule_search_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The once-inferred (topic_probs, doc_len, gold) corpus all three
    search arms score against — cached by each arm for its trial
    loop."""
    from pyspark.ml.functions import vector_to_array

    from ..ml.shared import shared_lda

    # k=10 matches the reference's lda_model_topics=10
    # (polysemous_words.py:31): with 10 topics the uniform probability
    # is 0.1, so the searched floor range [0.05, 0.1] actually bites —
    # at k=5 (uniform 0.2) the continuous dimension would be degenerate
    model, corpus = shared_lda(spark, sf_dir, k=10, max_iter=5)
    dist = model.transform(corpus).select(
        "doc_id",
        vector_to_array("topicDistribution").alias("topic_probs"),
        F.size("tokens").alias("doc_len"),
        (
            F.size(F.array_distinct("tokens"))
            / F.greatest(F.size("tokens"), F.lit(1))
        ).alias("__diversity"),
    )
    # gold: docs in the top diversity half — the analogue of the
    # reference's external wiki-disambiguation gold set: derived from
    # the corpus once, independent of the searched rule parameters
    med = dist.select(
        F.expr("percentile(__diversity, 0.5)").alias("m")
    ).first()["m"]
    return dist.select(
        "topic_probs",
        "doc_len",
        (F.col("__diversity") > F.lit(float(med))).alias("gold"),
    )


def _ann_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build the persisted IVF index once per on-disk state of the
    embeddings table (``scratch.published``)."""
    from ..ml.ann_index import build_ivf_index
    from ..scratch import published

    return published(
        sf_dir, "embeddings", "umt_ann_index", "_UMT_ANN_DONE",
        lambda stage: build_ivf_index(
            spark, _t(spark, sf_dir, "embeddings"), stage
        ),
    )
