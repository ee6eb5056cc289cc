"""Text-analysis queries (cleaning, tokens, TF-IDF, retrieval, BPE, string linkage).

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
    MIN_DOC_WORDS,
    REGISTRY,
    STOPWORDS,
    SparkSession,
    TS,
    Window,
    _register,
    _spread,
    _t,
    clean_string,
    cosine_similarity,
    jaro_winkler,
    sql_clean_string,
    sql_morphy_lemma,
    sql_simple_tokens,
    sql_stopword_list,
    sql_tokens_pipeline,
    tokens_pipeline,
)




# =========================================================================
# Text analysis over documents (cleaning pipeline + stats + vocabulary)
# =========================================================================


@_register(
    "clean_documents",
    f"SELECT doc_id, {sql_clean_string('text')} AS clean_text FROM documents",
    "T1/T2 (lower + Unicode punctuation strip)",
    "The reference cleanString (polysemous_words.py:71-75) as one "
    "codegen'd Column expression.",
)
def q_clean_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", clean_string(F.col("text")).alias("clean_text"))


@_register(
    "tokenized_documents",
    f"""
    SELECT doc_id,
           array_to_string({sql_tokens_pipeline('text')}, ' ') AS clean_tokens,
           len({sql_tokens_pipeline('text')}) AS n_tokens
    FROM documents
    """,
    "T3/T4/T7, P4/P5/P8 (full token pipeline)",
    "Full 10-stage cleaning pipeline (Read_And_Clean.py:53-86); output "
    "re-joined to a string for engine-portable comparison.",
)
def q_tokenized_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # pipeline projected once (HOFs inside it block CSE)
    wt = docs.select("doc_id", tokens_pipeline(F.col("text")).alias("toks"))
    return wt.select(
        "doc_id",
        F.concat_ws(" ", F.col("toks")).alias("clean_tokens"),
        F.size("toks").cast("long").alias("n_tokens"),
    )


@_register(
    "token_stats",
    f"""
    SELECT doc_id,
           len({sql_simple_tokens('text')}) AS n_words,
           len(list_distinct({sql_simple_tokens('text')})) AS n_distinct_words,
           ROUND(CASE WHEN len({sql_simple_tokens('text')}) = 0 THEN 0.0
                 ELSE CAST(list_aggregate(list_transform({sql_simple_tokens('text')}, t -> length(t)), 'sum') AS DOUBLE)
                      / len({sql_simple_tokens('text')}) END, 6) AS avg_word_len
    FROM documents
    """,
    "T4/T7 + §2.11 text analysis (token counting)",
    "Per-document token statistics, all HOF expressions.",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    # tokens projected once — the three statistics share the array (HOFs
    # block CSE; see operators.textstats module docstring)
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    return toks.select(
        "doc_id",
        TS.word_count_from_tokens(F.col("toks")).cast("long").alias("n_words"),
        TS.distinct_word_count_from_tokens(F.col("toks")).cast("long").alias("n_distinct_words"),
        F.round(TS.avg_word_length_from_tokens(F.col("toks")), 6).alias("avg_word_len"),
    )


@_register(
    "doc_length_classes",
    f"""
    SELECT lang,
           CASE WHEN len({sql_tokens_pipeline('text')}) < {MIN_DOC_WORDS} THEN 'short'
                WHEN len({sql_tokens_pipeline('text')}) <= 40 THEN 'medium'
                ELSE 'long' END AS length_class,
           COUNT(*) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
    "P3 (doc-length range predicate)",
    "Reference MIN_DOC_WORDS admission filter (webisalod_lda.py:28,32-33) "
    "as a bucketing expression.",
)
def q_doc_length_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # pipeline evaluated once per row, length reused by the when-chain
    docs = docs.select(
        docs["*"], F.size(tokens_pipeline(F.col("text"))).alias("__n")
    )
    n = F.col("__n")
    cls = (
        F.when(n < MIN_DOC_WORDS, "short").when(n <= 40, "medium").otherwise("long")
    )
    return (
        docs.select("lang", cls.alias("length_class"))
        .groupBy("lang", "length_class")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@_register(
    "vocabulary",
    f"""
    SELECT token,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docfreq,
           COUNT(*) AS collfreq
    FROM (SELECT doc_id, unnest({sql_tokens_pipeline('text')}) AS token FROM documents)
    GROUP BY token
    HAVING COUNT(DISTINCT doc_id) >= 3
    """,
    "A1/A3 (vocabulary group-count + extremes filter)",
    "gensim Dictionary build (webisalod_lda.py:41-48) as explode + "
    "group-count with a minDF filter.",
)
def q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", F.explode(tokens_pipeline(F.col("text"))).alias("token")
    )
    return (
        exploded.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("docfreq"),
            F.count(F.lit(1)).alias("collfreq"),
        )
        .filter(F.col("docfreq") >= 3)
    )


@_register(
    "term_frequency",
    f"""
    SELECT doc_id, token, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest({sql_tokens_pipeline('text')}) AS token FROM documents)
    WHERE doc_id < 50
    GROUP BY doc_id, token
    """,
    "A2 (doc2bow term-frequency vectorization)",
    "BoW counts per (doc, term) — the relational core of doc2bow "
    "(webisalod_lda.py:50).",
)
def q_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return (
        docs.select("doc_id", F.explode(tokens_pipeline(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@_register(
    "tfidf",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({sql_tokens_pipeline('text')}) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token,
           ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
    WHERE tf.doc_id < 20
    """,
    "A10 (TF-IDF weighting, MLlib IDF formula)",
    "TF-IDF with MLlib's smoothed idf = ln((N+1)/(df+1)), computed "
    "relationally so the oracle can check it exactly.",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens_pipeline(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar; broadcast into the expression
    return (
        tf.join(F.broadcast(df), "token")
        .filter(F.col("doc_id") < 20)
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )


@_register(
    "document_fingerprints",
    f"SELECT doc_id, md5({sql_clean_string('text')}) AS fingerprint FROM documents",
    "§2.11 text analysis (document fingerprinting)",
    "Deterministic md5 fingerprint of the normalized text (exact-dedup key).",
)
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TS.fingerprint(F.col("text")).alias("fingerprint"))


@_register(
    "text_quality",
    f"""
    SELECT doc_id,
           n_chars,
           len({sql_simple_tokens('text')}) AS n_words,
           ROUND(CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(length(text) - length(regexp_replace(text, '[\\p{{P}}\\p{{S}}]', '', 'g')) AS DOUBLE)
                      / length(text) END, 6) AS punct_ratio,
           ROUND(CASE WHEN len({sql_simple_tokens('text')}) = 0 THEN 0.0
                 ELSE CAST(len(list_filter({sql_simple_tokens('text')}, t -> t IN {sql_stopword_list(STOPWORDS)})) AS DOUBLE)
                      / len({sql_simple_tokens('text')}) END, 6) AS stopword_ratio
    FROM documents
    """,
    "§2.11 text analysis (quality scoring)",
    "Length / punctuation / stopword-ratio quality signals, all "
    "codegen'd expressions.",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "n_chars", "text", tokenize(F.col("text")).alias("toks")
    )
    return toks.select(
        "doc_id",
        "n_chars",
        TS.word_count_from_tokens(F.col("toks")).cast("long").alias("n_words"),
        F.round(TS.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(TS.stopword_ratio_from_tokens(F.col("toks")), 6).alias("stopword_ratio"),
    )


def _sql_lang_hits(code: str) -> str:
    words = ", ".join(f"'{w}'" for w in TS.LANG_MARKERS[code])
    return (
        f"len(list_filter({sql_simple_tokens('text')}, t -> t IN ({words})))"
    )


def _sql_langid() -> str:
    codes = sorted(TS.LANG_MARKERS)
    clauses = []
    for i, c in enumerate(codes):
        conds = [f"{_sql_lang_hits(c)} > 0"]
        for other in codes[i + 1 :]:
            conds.append(f"{_sql_lang_hits(c)} >= {_sql_lang_hits(other)}")
        for other in codes[:i]:
            conds.append(f"{_sql_lang_hits(c)} > {_sql_lang_hits(other)}")
        clauses.append(f"WHEN {' AND '.join(conds)} THEN '{c}'")
    return "CASE " + " ".join(clauses) + " ELSE 'und' END"


@_register(
    "language_id",
    f"""
    SELECT lang, {_sql_langid()} AS predicted_lang, COUNT(*) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
    "§2.11 text analysis (language ID heuristic)",
    "Marker-word language ID vs the labeled lang column (confusion table).",
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    # single tokenize projection: the 4 per-language marker scores share
    # the array (2.4x at sf0.1 vs re-tokenizing per language)
    toks = docs.select("lang", tokenize(F.col("text")).alias("toks"))
    return (
        toks.select(
            "lang", TS.langid_from_tokens(F.col("toks")).alias("predicted_lang")
        )
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# =========================================================================
# Fuzzy matching / near-dup (Jaro-Winkler, n-gram Jaccard)
# =========================================================================


@_register(
    "jaro_winkler_pairs",
    """
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           ROUND(jaro_winkler_similarity(a.n_name, b.n_name), 4) AS jw_sim
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    WHERE jaro_winkler_similarity(a.n_name, b.n_name) >= 0.5
    """,
    "T9 (Jaro-Winkler fuzzy match)",
    "Reference evaluate.py:100-106 JW name matching; engine side is an "
    "Arrow-vectorized pandas_udf.",
)
def q_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    a = nation.select(
        F.col("n_nationkey").alias("key_a"), F.col("n_name").alias("name_a")
    )
    b = nation.select(
        F.col("n_nationkey").alias("key_b"), F.col("n_name").alias("name_b")
    )
    pairs = a.join(b, F.col("key_a") < F.col("key_b"))
    sim = jaro_winkler(F.col("name_a"), F.col("name_b"))
    return (
        pairs.withColumn("jw_sim_raw", sim)
        .filter(F.col("jw_sim_raw") >= 0.5)
        .select("name_a", "name_b", F.round("jw_sim_raw", 4).alias("jw_sim"))
    )


# =========================================================================
# Batch 2: string rewrites, lemmatization, windows, percentiles, cube,
# range joins, sliding windows, documents/embeddings dedup, minhash
# signatures, portable folds
# =========================================================================


@_register(
    "lemmatized_tokens",
    f"""
    SELECT doc_id,
           array_to_string({sql_morphy_lemma(sql_tokens_pipeline('text'))}, ' ') AS lemmas
    FROM documents
    """,
    "T5 (lemmatization, morphy-style: exception map + detachment rules)",
    "WordNet-morphy-style lemmatizer over the cleaned token stream "
    "(Read_And_Clean.py:38-43,71): irregular-form exception map first "
    "(the *.exc role), then the ordered suffix-detachment table with "
    "consonant-doubling undo. Map + CASE are expression-embedded (no "
    "broadcast join, whole-stage codegen); DuckDB replays the identical "
    "constants.",
)
def q_lemmatized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import morphy_lemmatize

    docs = _t(spark, sf_dir, "documents")
    lemmas = morphy_lemmatize(tokens_pipeline(F.col("text")))
    return docs.select("doc_id", F.concat_ws(" ", lemmas).alias("lemmas"))


@_register(
    "replace_rewrite",
    "SELECT doc_id, md5(replace(text, 'spark', 'engine')) AS rewritten_hash FROM documents",
    "S2/T6 (line rewrite: literal substring replace)",
    "fix_dataset_uris.py:1-12 semantics: scan → replace(old, new) → sink "
    "(hash of the rewritten line keeps comparison compact).",
)
def q_replace_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(F.expr("replace(text, 'spark', 'engine')")).alias("rewritten_hash")
    )


@_register(
    "concat_segment_name",
    """
    SELECT c_custkey, concat_ws(' ', c_mktsegment, c_name) AS seg_name
    FROM customer
    """,
    "T8 (string concat of columns)",
    "ADD_NAME_IN_DOC-style prefix concat (supervised_classifier.py:132-133).",
)
def q_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey", F.concat_ws(" ", "c_mktsegment", "c_name").alias("seg_name")
    )


@_register(
    "blocked_jw_linkage",
    """
    WITH p AS (
        SELECT p_partkey AS k, p_name AS nm,
               str_split(p_name, ' ')[1] AS blk
        FROM part WHERE p_partkey < 1000
    ),
    pairs AS (
        SELECT a.blk,
               jaro_winkler_similarity(a.nm, b.nm) AS jw
        FROM p a JOIN p b ON a.blk = b.blk AND a.k < b.k
    )
    SELECT blk AS block,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN jw >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matches,
           ROUND(MAX(jw), 4) AS top_sim
    FROM pairs GROUP BY blk
    """,
    "T9/§2.11 entity resolution (blocked record linkage)",
    "The 100 TB shape of Jaro-Winkler matching (T9, evaluate.py:100-106): "
    "candidate pairs come from an equi-join on a BLOCKING key (first "
    "name token) instead of the all-pairs product — the shuffle is "
    "block-keyed, the pandas_udf JW kernel (Arrow-vectorized) runs on "
    "in-block candidates only, and the per-block report (pair count, "
    "matches at ≥0.9, rounded max similarity) keeps the output "
    "aggregate-sized. Oracle-exact against DuckDB's built-in "
    "jaro_winkler_similarity (bit-agreement with the Python kernel is "
    "the established jaro_winkler_pairs parity). Skewed blocks are the "
    "known hazard at scale — the documented refinement is a second "
    "blocking key (e.g. name length), same plan shape.",
)
def q_blocked_jw(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 1000)
    p = part.select(
        F.col("p_partkey").alias("k"),
        F.col("p_name").alias("nm"),
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
    )
    a = p.select(F.col("blk"), F.col("k").alias("ka"), F.col("nm").alias("na"))
    b = p.select(
        F.col("blk").alias("blk_b"),
        F.col("k").alias("kb"),
        F.col("nm").alias("nb"),
    )
    pairs = a.join(
        b, (F.col("blk") == F.col("blk_b")) & (F.col("ka") < F.col("kb"))
    ).withColumn("jw", jaro_winkler(F.col("na"), F.col("nb")))
    return pairs.groupBy(F.col("blk").alias("block")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("jw") >= 0.9, 1).otherwise(0))
        .cast("long")
        .alias("n_matches"),
        F.round(F.max("jw"), 4).alias("top_sim"),
    )


@_register(
    "bpe_subword_counts",
    """
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z0-9]{1,4}')) AS n_subwords,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words
    FROM documents
    """,
    "§2.11 text analysis (token counting, BPE-ish regex)",
    "Greedy ≤4-char subword chunking — the regex analogue of BPE token "
    "counting for budget estimation.",
)
def q_bpe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(lower(text), '[a-z0-9]{1,4}', 0)"))
        .cast("long")
        .alias("n_subwords"),
        F.size(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .cast("long")
        .alias("n_words"),
    )


from ..functions.text import POLY_WEIGHTS as _POLY_W  # noqa: E402

_POLY_TERM_SQL_DUCK = " + ".join(
    f"cs[i+{j}]*CAST({w} AS BIGINT)" for j, w in enumerate(_POLY_W)
)


@_register(
    "winnowing_fingerprint",
    f"""
    WITH cleaned AS (
        SELECT doc_id, {sql_clean_string('text')} AS c FROM documents
    ),
    coded AS (
        SELECT doc_id, c,
               list_transform(regexp_extract_all(c, '.'),
                              ch -> CAST(ascii(ch) AS BIGINT)) AS cs
        FROM cleaned
    )
    SELECT doc_id,
           CASE WHEN length(c) = 0 THEN CAST(0 AS BIGINT)
                WHEN length(c) >= 8
                THEN list_min(list_transform(range(1, length(c) - 6),
                                             i -> {_POLY_TERM_SQL_DUCK}))
                ELSE list_reduce(cs, (a, x) -> a*31 + x) END AS shingle_fp
    FROM coded
    """,
    "§2.11 text analysis (rolling-hash / winnowing fingerprint)",
    "Min-of-rolling-8-gram-hashes document fingerprint (winnowing-lite): "
    "robust to small edits, unlike the exact md5. The per-position hash "
    "is the base-31 polynomial over codepoints — exact int64 arithmetic "
    "both engines replay bit-identically (max codepoint 0x10FFFF × "
    "31^7 × 8 ≈ 2.4e17 < 2^63, no overflow), and ~two orders of "
    "magnitude cheaper per position than the previous per-substring "
    "md5 (the r2 bench's 2.65× regression). One codepoint-split pass "
    "per document, then O(1) array reads per window.",
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import winnowing_fingerprint_expr

    # row-local per-char polynomial over a one-file scan: spread like
    # the _set variant so the map work runs a core per split (r13;
    # no-op at scale where the scan already yields many splits)
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id", winnowing_fingerprint_expr(F.col("text")).alias("shingle_fp")
    )


_WINNOW_W = 4  # winnowing guarantee window (hashes per selection window)


@_register(
    "winnowing_fingerprint_set",
    f"""
    WITH coded AS (
        SELECT doc_id, c,
               list_transform(regexp_extract_all(c, '.'),
                              ch -> CAST(ascii(ch) AS BIGINT)) AS cs
        FROM (SELECT doc_id, {sql_clean_string('text')} AS c FROM documents)
    ),
    hashed AS (
        SELECT doc_id,
               CASE WHEN length(c) >= 8
                    THEN list_transform(range(1, length(c) - 6),
                                        i -> {_POLY_TERM_SQL_DUCK})
                    WHEN length(c) > 0
                    THEN [list_reduce(cs, (a, x) -> a*31 + x)]
                    ELSE CAST([] AS BIGINT[]) END AS h
        FROM coded
    ),
    sel AS (
        SELECT doc_id,
               CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
                    WHEN len(h) < {_WINNOW_W} THEN [list_min(h)]
                    ELSE list_sort(list_distinct(list_transform(
                        range(1, len(h) - {_WINNOW_W - 2}),
                        p -> list_min(h[p:p+{_WINNOW_W - 1}])))) END AS fps
        FROM hashed
    )
    SELECT doc_id,
           CAST(len(fps) AS INT) AS n_fps,
           md5(array_to_string(fps, ',')) AS fpset_md5
    FROM sel
    """,
    "§2.11 text analysis (winnowing proper: window-minima fingerprint set)",
    "TRUE winnowing (Schleimer/Wilkerson/Aiken): slide a window of "
    f"{_WINNOW_W} consecutive 8-gram rolling hashes, select each "
    "window's minimum, dedupe+sort the selections — the guarantee-"
    "bounded fingerprint SET used for plagiarism/overlap detection "
    "(the single-min variant is winnowing_fingerprint). Relation "
    "carries the set size and the md5 of the sorted set (compact, "
    "hash-exact); all arithmetic is the same engine-portable int64 "
    "polynomial, so DuckDB replays every selection. Map-only scan — "
    "no shuffle, no UDF.",
)
def q_winnowing_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import POLY_WEIGHTS, POLY_WINDOW

    # the per-char polynomial + window minima are row-local: spread the
    # one-file scan so the map work runs a core per split (no-op at scale)
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    cleaned = clean_string(F.col("text"))
    cs = F.transform(F.split(cleaned, ""), lambda ch: F.ascii(ch).cast("long"))
    row = F.array(F.struct(cleaned.alias("c"), cs.alias("cs")))

    def body(x):
        c, codes = x["c"], x["cs"]
        n = F.length(c)

        def poly(i):
            acc = None
            for j, w in enumerate(POLY_WEIGHTS):
                t = F.element_at(codes, i + j) * F.lit(w).cast("long")
                acc = t if acc is None else acc + t
            return acc

        h = (
            F.when(
                n >= POLY_WINDOW,
                F.transform(F.sequence(F.lit(1), n - (POLY_WINDOW - 1)), poly),
            )
            .when(
                n > 0,
                F.array(
                    F.aggregate(
                        codes, F.lit(0).cast("long"), lambda a, ch: a * 31 + ch
                    )
                ),
            )
            .otherwise(F.expr("CAST(array() AS array<bigint>)"))
        )
        return h

    hcol = F.element_at(F.transform(row, body), 1)
    hashed = docs.select("doc_id", hcol.alias("h"))
    hrow = F.array(F.struct(F.col("h").alias("h")))

    def select_minima(x):
        h = x["h"]
        m = F.size(h)
        sel = F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), m - (_WINNOW_W - 1)),
                    lambda p: F.array_min(F.slice(h, p, _WINNOW_W)),
                )
            )
        )
        return (
            F.when(m == 0, F.expr("CAST(array() AS array<bigint>)"))
            .when(m < _WINNOW_W, F.array(F.array_min(h)))
            .otherwise(sel)
        )

    fps = F.element_at(F.transform(hrow, select_minima), 1)
    return hashed.select(
        "doc_id",
        F.size(fps).cast("int").alias("n_fps"),
        F.md5(F.concat_ws(",", F.transform(fps, lambda v: v.cast("string")))).alias(
            "fpset_md5"
        ),
    )


@_register(
    "spellcheck_filtered",
    f"""
    WITH vocab AS (
        SELECT token FROM (
            SELECT token, COUNT(DISTINCT doc_id) AS df
            FROM (SELECT doc_id, unnest({sql_tokens_pipeline('text')}) AS token FROM documents)
            GROUP BY token
        ) WHERE df >= 3
    ),
    exploded AS (
        SELECT doc_id, unnest({sql_tokens_pipeline('text')}) AS token FROM documents
    )
    SELECT doc_id,
           array_to_string(list_sort(list(DISTINCT token)), ' ')
               AS known_tokens
    FROM exploded SEMI JOIN vocab USING (token)
    GROUP BY doc_id
    """,
    "P6/P7 (spelling / lexicon filter via semi-join)",
    "The reference drops tokens unknown to the spellchecker / English "
    "lexicon via Python set difference (Read_And_Clean.py:19-29,77,80). "
    "Distributed form: explode tokens, LEFT SEMI join against the "
    "(broadcastable) lexicon — here the corpus vocabulary at df ≥ 3 — "
    "and re-collect per doc (sorted set, deterministic).",
)
def q_spellcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the one-file scan: tokens_pipeline runs TWICE (vocab build
    # + semi-join side) and is the per-row cost; downstream is exact
    # counts and a sorted-set regroup, partitioning-independent (r13)
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    # the token explode feeds both the lexicon build and the semi join;
    # recompute it on each side rather than materialize O(tokens) rows —
    # the explode is map-side-cheap, and only the (small) vocab side is
    # checkpointed so the broadcast below has a bounded, settled input
    exploded = docs.select(
        "doc_id", F.explode(tokens_pipeline(F.col("text"))).alias("token")
    )
    vocab = (
        exploded.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 3)
        .select("token")
        .localCheckpoint(eager=False)
    )
    return (
        exploded.join(F.broadcast(vocab), "token", "left_semi")
        .groupBy("doc_id")
        # space-joined sorted set, not an array: the driver's pandas
        # canonicalizer sorts on every output column and arrays are
        # unhashable there (round-2 FAIL-err)
        .agg(
            F.concat_ws(" ", F.sort_array(F.collect_set("token"))).alias(
                "known_tokens"
            )
        )
    )


# User-supplied lexicon demo (P4/P6/P7 pluggability). Stands in for the
# reference's runtime-loaded NLTK stopword / spellchecker word lists
# (Read_And_Clean.py:68,171-172): any single-column table of words plugs
# in with identical token semantics. Mix of corpus-present and absent
# words so both match and no-match paths are exercised.
CUSTOM_LEXICON: tuple[str, ...] = (
    "data", "query", "row", "table", "alphaword", "omegaword",
)


@_register(
    "custom_lexicon_tokens",
    f"""
    SELECT doc_id,
           COALESCE(array_to_string(
               list_filter({sql_tokens_pipeline('text')},
                           t -> t NOT IN {sql_stopword_list(CUSTOM_LEXICON)}),
               ' '), '') AS kept_tokens,
           COALESCE(array_to_string(
               list_filter({sql_tokens_pipeline('text')},
                           t -> t IN {sql_stopword_list(CUSTOM_LEXICON)}),
               ' '), '') AS lexicon_tokens
    FROM documents
    """,
    "P4/P6/P7 (pluggable user-supplied lexicon)",
    "The reference's stopword / spellcheck lexica are runtime-loaded "
    "word lists (Read_And_Clean.py:68,171-172); this query feeds a "
    "user-supplied lexicon DataFrame through BOTH engine strategies — "
    "drop-mode via the posexplode + broadcast ANTI join + ordered "
    "regroup (functions.lexicon, the unbounded-lexicon path) and "
    "keep-mode via the inline literal-array HOF (the dim-sized path) — "
    "and hash-verifies each against DuckDB's plain list_filter, proving "
    "the join machinery preserves token order and multiplicity exactly.",
)
def q_custom_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.lexicon import (
        filter_tokens_inline,
        filter_tokens_with_lexicon,
        lexicon_from_words,
    )

    # spread the one-file scan before the per-doc token pipeline: the
    # tokens feed BOTH filter strategies (posexplode+anti-join regroup
    # and the inline HOF), and the regroup rebuilds each doc's array by
    # position — content is partitioning-independent (r13, guide §2.5)
    docs = _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", tokens_pipeline(F.col("text")).alias("tokens")
    )
    lex = lexicon_from_words(spark, CUSTOM_LEXICON)
    out = filter_tokens_with_lexicon(
        docs, "tokens", lex, id_cols=["doc_id"], mode="drop",
        out_col="kept", strategy="join",
    )
    out = out.withColumn(
        "only_lex", filter_tokens_inline(F.col("tokens"), CUSTOM_LEXICON, "keep")
    )
    return out.select(
        "doc_id",
        F.concat_ws(" ", F.col("kept")).alias("kept_tokens"),
        F.concat_ws(" ", F.col("only_lex")).alias("lexicon_tokens"),
    )


@_register(
    "inverted_index_postings",
    f"""
    WITH tok AS (
        SELECT doc_id, {sql_simple_tokens('text')} AS tk FROM documents
    ),
    pos AS (
        SELECT doc_id, tk[CAST(i AS INT)] AS term, CAST(i - 1 AS INT) AS pos
        FROM tok, UNNEST(range(1, len(tk) + 1)) AS t(i)
    )
    SELECT term,
           COUNT(DISTINCT doc_id) AS df,
           COUNT(*) AS tf_total,
           md5(string_agg(doc_id || ':' || pos, ',' ORDER BY doc_id, pos))
               AS postings_md5
    FROM pos
    GROUP BY term
    HAVING COUNT(DISTINCT doc_id) >= 5
    """,
    "§2.11 text analysis (inverted index build — retrieval primitive)",
    "Positional inverted index over the corpus: every (term, doc_id, "
    "position) occurrence, aggregated per term into document frequency, "
    "total term frequency, and an md5 fingerprint of the canonical "
    "ordered posting list 'doc:pos,...' (compact but hash-exact — any "
    "lost or re-ordered posting breaks the oracle). Terms with df < 5 "
    "are pruned (the long tail a real index would tier out). Scale "
    "shape: posexplode fans out map-side, one shuffle on the term key "
    "with partial aggregation; posting lists stay distributed — this "
    "is the build side of distributed retrieval, shuffling (term, "
    "doc, pos) triples only.",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(tokenize(F.col("text"))).alias("pos", "term"),
    )
    return (
        pos.groupBy("term")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf_total"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "pos"))
                        ),
                        lambda s: F.concat_ws(
                            ":", s["doc_id"].cast("string"), s["pos"].cast("string")
                        ),
                    ),
                    ",",
                )
            ).alias("postings_md5"),
        )
        .where(F.col("df") >= 5)
    )


_BM25_TERMS = ("spark", "query", "merge")
_BM25_K1, _BM25_B = 1.2, 0.75


@_register(
    "bm25_retrieval",
    f"""
    WITH tok AS (
        SELECT doc_id, {sql_simple_tokens('text')} AS tk FROM documents
    ),
    dl AS (SELECT doc_id, len(tk) AS dl FROM tok),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(CAST(dl AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*)
                   AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, t.tok AS term, COUNT(*) AS tf
        FROM tok, UNNEST(tk) AS t(tok)
        WHERE t.tok IN {tuple(_BM25_TERMS)!r}
        GROUP BY doc_id, t.tok
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    contrib AS (
        SELECT tf.doc_id,
               CAST(ROUND(
                   ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * (tf.tf * ({_BM25_K1} + 1.0))
                   / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * dl.dl / stats.avgdl)), 9)
                   AS DECIMAL(18,9)) AS c
        FROM tf JOIN df USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
    )
    SELECT doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS bm25
    FROM contrib
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
    "§2.11 text analysis (BM25 ranked retrieval over the corpus)",
    f"BM25 (k1={_BM25_K1}, b={_BM25_B}, Lucene idf variant) top-20 for "
    f"the fixed query {_BM25_TERMS}: per-(doc, term) contributions from "
    "tf / df / doc-length / global avgdl, summed per document. "
    "Determinism: each contribution is rounded to 9 decimals and "
    "summed as DECIMAL (exact, partition-order-independent — the "
    "engine's standard float-aggregation convention), one final "
    "6-decimal round; ties broken by doc_id. Scale shape: the query-"
    "term filter prunes the explode BEFORE the shuffle (only matching "
    "(doc, term) pairs move), df and avgdl are 1-row/3-row broadcast "
    "aggregates, and top-20 is takeOrdered — no global sort.",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", tokenize(F.col("text")).alias("tk"))
    dl = tok.select("doc_id", F.size("tk").alias("dl"))
    stats = F.broadcast(
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("dl").cast("decimal(18,0)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avgdl"),
        )
    )
    tf = (
        tok.select("doc_id", F.explode("tk").alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = F.broadcast(tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    contrib = (
        tf.join(df_t, "term")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (_BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.round(F.sum("c").cast("double"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


_RRF_K = 60  # Cormack et al.'s constant; dampens high-rank dominance


def _hybrid_rrf_sql() -> str:
    # built lazily so it sees bm25_retrieval's registered SQL
    return f"""
    WITH bm AS (
        SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
        FROM ({REGISTRY['bm25_retrieval'].sql})
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
    cs AS (
        SELECT e.vec_id AS doc_id,
               list_dot_product(pv, e.v)
                 / (sqrt(list_dot_product(pv, pv))
                    * sqrt(list_dot_product(e.v, e.v))) AS sim
        FROM e CROSS JOIN p
        WHERE e.vec_id != 0
    ),
    dn AS (
        SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r_dense
        FROM cs ORDER BY sim DESC, doc_id LIMIT 20
    ),
    fused AS (
        SELECT COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
               COALESCE(bm.r_lex, CAST(0 AS BIGINT)) AS lex_rank,
               COALESCE(dn.r_dense, CAST(0 AS BIGINT)) AS dense_rank,
               ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + bm.r_lex), 0.0)
                     + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + dn.r_dense),
                                0.0), 9) AS rrf_score
        FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id
    )
    SELECT doc_id, lex_rank, dense_rank, rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
    """


@_register(
    "hybrid_retrieval_rrf",
    _hybrid_rrf_sql(),
    "§2.11 retrieval (hybrid lexical+dense fusion, reciprocal-rank)",
    "Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of the "
    "two retrieval arms the engine already serves: the BM25 top-20 for "
    "the fixed lexical query (bm25_retrieval's exact scoring, ranks "
    "from the unrounded DECIMAL-summed score) and the dense top-20 by "
    "exact cosine to the probe embedding (vec_id 0 — vec_id aligns "
    "with doc_id in the corpus; the same sequential float64 fold as "
    "knn_bruteforce_cosine, bit-identical between Spark's aggregate "
    "HOF and DuckDB's list kernels). Fused score = sum over arms of "
    "1/(60 + rank), missing membership contributing 0 and rank 0 in "
    "the report — each term is ONE IEEE division and the sum ONE "
    "addition, so the fusion is deterministic without decimal "
    "scaffolding; top-10 by (score, doc_id). The hybrid-search shape "
    "every RAG ingestion stack runs: at 100 TB both arms stay "
    "distributed (BM25's pruned term shuffle, the dense arm a "
    "broadcast-probe map + top-k — or the IVF/PQ path for big probe "
    "sets) while the fusion itself joins two k-row lists — "
    "driver-trivial at any corpus size.",
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import cosine_similarity
    from ..operators.indexing import rank_bounded

    # Both arms rank a BOUNDED top-20 list via rank_bounded — no
    # window anywhere, so no corpus funnels through one partition
    # (the r7 version ranked the full dense corpus through a single
    # unpartitioned WindowExec) and no `No Partition Defined` noise.
    # localCheckpoint pins the 20-row lists so rank_bounded's
    # self-join reads them once instead of re-running the arm twice.
    # r14 (guide §2.6): the two arms are independent eager
    # materializations — overlap them in a 2-thread pool; each arm's
    # checkpoint content is deterministic, so concurrency changes
    # nothing downstream.
    def _lex_arm():
        return REGISTRY["bm25_retrieval"].fn(spark, sf_dir).localCheckpoint(
            eager=True
        )  # already top-20

    def _dense_arm():
        emb = _t(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        probe = F.broadcast(
            emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("pv"))
        )
        sim = cosine_similarity(F.col("pv"), F.col("v"))
        cs = (
            emb.filter(F.col("vec_id") != 0)
            .crossJoin(probe)
            .select(F.col("vec_id").alias("doc_id"), sim.alias("sim"))
        )
        # distributed TakeOrdered (per-partition top-20 → merge), THEN
        # rank the 20 surviving rows — the corpus never sees a window
        return (
            cs.orderBy(F.col("sim").desc(), "doc_id")
            .limit(20)
            .localCheckpoint(eager=True)
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _ex:
        _f_lex = _ex.submit(_lex_arm)
        _f_dense = _ex.submit(_dense_arm)
        bm, top_dense = _f_lex.result(), _f_dense.result()
    lex = rank_bounded(
        bm, [("bm25", "desc"), ("doc_id", "asc")], "r_lex"
    ).select("doc_id", "r_lex")
    dense = rank_bounded(
        top_dense, [("sim", "desc"), ("doc_id", "asc")], "r_dense"
    ).select("doc_id", "r_dense")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (_RRF_K + F.col("r_lex")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("r_dense")), F.lit(0.0)),
        9,
    )
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(F.col("r_lex").cast("long"), F.lit(0).cast("long"))
        .alias("lex_rank"),
        F.coalesce(F.col("r_dense").cast("long"), F.lit(0).cast("long"))
        .alias("dense_rank"),
        rrf.alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(10)


# -------------------------------------------------------------------------
# BPE merge training (ml/bpe.py)
# -------------------------------------------------------------------------

_BPE_N_MERGES = 8


def _bpe_oracle_cte(n_merges: int) -> str:
    """Unrolled DuckDB twin of ml.bpe.bpe_train — deliberately a
    DIFFERENT algorithm for the merge application. The Spark engine
    walks each word with an index fold (skip flag); the oracle explodes
    token positions and applies greedy left-to-right selection
    relationally: among each run of CONSECUTIVE match positions
    (gaps-and-islands per word), exactly the even-offset ones merge —
    ``a a a a`` under (a,a) merges positions {1,3}, yielding ``aa aa``.
    Hash agreement therefore certifies the trajectory, not a shared
    transliteration. Every CTE is MATERIALIZED — each is referenced
    more than once, and inlining would re-evaluate the whole prefix
    chain per reference (exponential blowup). Returns the WITH chain
    alone; ``t{n_merges}`` is the final (word, s, freq) tokenizer
    state the encode query joins against."""
    parts = [
        """
    WITH w AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
                  AS word
              FROM documents)
        GROUP BY word
    ),
    t0 AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY word) AS wid,
               word,
               array_to_string(regexp_extract_all(word, '.'), ' ')
                   || ' </w>' AS s,
               freq
        FROM w
    )"""
    ]
    # per step: tk = exploded (pos, tok, next-tok) triples; p = weighted
    # pair counts; m = deterministic argmax; ch = greedily-chosen merge
    # positions; t = reassembled symbol strings
    for i in range(1, n_merges + 1):
        parts.append(f""",
    tk{i} AS MATERIALIZED (
        SELECT wid, word, freq, u.pos AS pos, u.tok AS tok, u.nxt AS nxt
        FROM (SELECT wid, word, freq,
                     unnest(list_transform(
                         range(1, len(str_split(s, ' ')) + 1),
                         j -> struct_pack(
                             pos := j,
                             tok := str_split(s, ' ')[j],
                             nxt := CASE WHEN j < len(str_split(s, ' '))
                                         THEN str_split(s, ' ')[j + 1]
                                         END))) AS u
              FROM t{i - 1})
    ),
    p{i} AS MATERIALIZED (
        SELECT tok AS lhs, nxt AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM tk{i} WHERE nxt IS NOT NULL
        GROUP BY tok, nxt
    ),
    m{i} AS MATERIALIZED (
        SELECT lhs, rhs, cnt FROM p{i}
        ORDER BY cnt DESC, lhs, rhs LIMIT 1
    ),
    ch{i} AS MATERIALIZED (
        SELECT wid, pos
        FROM (SELECT wid, pos,
                     MIN(pos) OVER (PARTITION BY wid, isl) AS run_start
              FROM (SELECT wid, pos,
                           pos - row_number()
                               OVER (PARTITION BY wid ORDER BY pos)
                               AS isl
                    FROM tk{i}
                    WHERE tok = (SELECT lhs FROM m{i})
                      AND nxt = (SELECT rhs FROM m{i})))
        WHERE (pos - run_start) % 2 = 0
    ),
    t{i} AS MATERIALIZED (
        SELECT tk.wid,
               ANY_VALUE(tk.word) AS word,
               ANY_VALUE(tk.freq) AS freq,
               string_agg(
                   CASE WHEN c.pos IS NOT NULL
                        THEN tk.tok || tk.nxt ELSE tk.tok END,
                   ' ' ORDER BY tk.pos) AS s
        FROM tk{i} tk
        LEFT JOIN ch{i} c  ON tk.wid = c.wid AND tk.pos = c.pos
        LEFT JOIN ch{i} cp ON tk.wid = cp.wid AND tk.pos = cp.pos + 1
        WHERE cp.pos IS NULL
        GROUP BY tk.wid
    )""")
    return "".join(parts)


def _bpe_oracle_sql(n_merges: int) -> str:
    """CTE chain + the training output: the merge-table rows."""
    selects = "\n    UNION ALL\n".join(
        f"    SELECT {i} AS step, lhs, rhs, cnt AS pair_count, "
        f"lhs || rhs AS merged FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return _bpe_oracle_cte(n_merges) + "\n" + selects


@_register(
    "bpe_merge_training",
    _bpe_oracle_sql(_BPE_N_MERGES),
    "§2.11 text analysis (BPE merge-table training, Sennrich 2016)",
    "TRAINS the subword merge table the reference's BPE-ish counting "
    "presupposes: the corpus collapses once to a word-frequency dict "
    "(the scale lever — pair statistics over 100 TB equal pair "
    "statistics over its word dict weighted by freq), then each of 8 "
    "merge steps is one distributed job: explode adjacent symbol "
    "pairs, weighted-count (map-side partials on the pair key), "
    "deterministic argmax (count desc, lexicographic tie-break) via "
    "TakeOrdered — ONE row per step reaches the driver — and a "
    "literal greedy left-to-right replace applied as a chained "
    "column expression. The oracle unrolls the identical loop as "
    "materialized DuckDB CTEs, so counts, tie-breaks and merge "
    "applications are hash-exact across engines — any divergence in "
    "the training trajectory (a wrong count, an unstable tie, an "
    "overlapping-merge bug) surfaces as a hash break.",
)
def q_bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _trained_bpe(spark, sf_dir)[0]


def _trained_bpe(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Trained tokenizer state shared by the training and encode queries
    (both run the same deterministic loop; the two final dict frames are
    localCheckpoint-pinned word dicts, KB-to-MB-scale), trained once per
    session."""
    from ..ml.bpe import bpe_train_full, word_dictionary
    from ..ml.shared import memo

    return memo(
        spark, sf_dir, f"bpe_trained/{_BPE_N_MERGES}",
        lambda: bpe_train_full(
            spark, word_dictionary(_t(spark, sf_dir, "documents")),
            _BPE_N_MERGES,
        ),
    )


@_register(
    "bpe_encode_documents",
    _bpe_oracle_cte(_BPE_N_MERGES) + f""",
    dw AS MATERIALIZED (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z]+'))
                         AS word
              FROM documents)
        GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_words,
           CAST(SUM(cnt * len(str_split(t.s, ' '))) AS BIGINT)
               AS n_subwords,
           ROUND(CAST(SUM(cnt * len(str_split(t.s, ' '))) AS DOUBLE)
                 / SUM(cnt), 4) AS subwords_per_word
    FROM dw JOIN t{_BPE_N_MERGES} t USING (word)
    GROUP BY doc_id
    """,
    "§2.11 text analysis (BPE encode: corpus tokenization with the "
    "trained vocab)",
    "The other half of the tokenizer lifecycle: APPLY the trained "
    "merge table to the corpus. Encoding never touches documents "
    "directly — per-doc word counts join the fully-merged symbol "
    "dictionary (word → subword count), so the cost is one word-key "
    "shuffle of (doc_id, word, cnt) triples plus a dict join, exactly "
    "how a 100 TB corpus gets tokenized for budget accounting (the "
    "dict is orders of magnitude smaller than the text and "
    "broadcast/AQE-joinable). Output is per-doc word count, subword "
    "count under the 8-merge vocab, and the fertility ratio "
    "(subwords/word — the metric tokenizer quality is judged by). "
    "The oracle re-derives the trained dictionary through its own "
    "gaps-and-islands chain, so train-state reuse between the two "
    "queries cannot mask a training defect.",
)
def q_bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, final = _trained_bpe(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    dw = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    toks = final.select(
        "word", F.size(F.split("s", " ")).alias("n_toks")
    )
    return (
        dw.join(toks, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_toks")).alias("n_subwords"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_subwords",
            F.round(
                F.col("n_subwords").cast("double") / F.col("n_words"), 4
            ).alias("subwords_per_word"),
        )
    )


@_register(
    "levenshtein_blocked_pairs",
    """
    WITH pairs AS (
        SELECT a.p_brand AS brand, a.p_partkey AS k1, b.p_partkey AS k2,
               levenshtein(a.p_name, b.p_name) AS d
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
    )
    SELECT brand, COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN d <= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_close,
           CAST(MIN(d) AS BIGINT) AS min_distance,
           CAST(SUM(CASE WHEN d <= 5 THEN k1 + k2 ELSE 0 END) AS BIGINT)
               AS close_checksum
    FROM pairs GROUP BY brand
    """,
    "§2.11 record linkage (blocked edit-distance matching, JVM-native)",
    "The Levenshtein twin of blocked_jw_linkage, deliberately built "
    "the OTHER way: where Jaro-Winkler needed the sanctioned "
    "Arrow-vectorized pandas_udf (Spark ships no JW), edit distance "
    "uses the built-in F.levenshtein — whole-stage codegen, zero "
    "Python in the hot path, the engine's UDFs-are-the-slow-path rule "
    "made concrete. Candidate pairs come from (brand, size) "
    "equi-join blocking, never all-pairs: the join IS the blocking "
    "index, so pair count scales with block-size^2 x blocks, not "
    "corpus^2, and the blocks shuffle on their key like any equi-join "
    "at 100 TB. Matched-pair membership is pinned via a key checksum "
    "— one pair crossing the threshold breaks the hash.",
)
def q_levenshtein_blocked_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_name"
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.p_brand").alias("brand"),
        F.col("a.p_partkey").alias("k1"),
        F.col("b.p_partkey").alias("k2"),
        F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("d"),
    )
    close = F.col("d") <= 5
    return pairs.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(close.cast("long")).alias("n_close"),
        F.min("d").cast("long").alias("min_distance"),
        F.sum(
            F.when(close, F.col("k1") + F.col("k2")).otherwise(0)
        ).alias("close_checksum"),
    )


@_register(
    "pmi_collocations",
    f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens_pipeline('text')} AS t
        FROM documents
    ),
    uni AS (
        SELECT unnest(t) AS w FROM toks
    ),
    uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
    tu AS (SELECT SUM(c) AS n FROM uc),
    bi AS (
        SELECT unnest(t[1:len(t)-1]) AS w1,
               unnest(t[2:len(t)]) AS w2
        FROM toks WHERE len(t) >= 2
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bi GROUP BY 1, 2),
    tb AS (SELECT SUM(n_ab) AS n FROM bc)
    SELECT w1, w2, n_ab,
           ROUND(LN((CAST(n_ab AS DOUBLE) / tb.n)
                 / ((CAST(ua.c AS DOUBLE) / tu.n)
                    * (CAST(ub.c AS DOUBLE) / tu.n))), 6) AS pmi
    FROM bc, tb, tu
    JOIN uc ua ON ua.w = bc.w1
    JOIN uc ub ON ub.w = bc.w2
    WHERE n_ab >= 5
    ORDER BY LN((CAST(n_ab AS DOUBLE) / tb.n)
                / ((CAST(ua.c AS DOUBLE) / tu.n)
                   * (CAST(ub.c AS DOUBLE) / tu.n))) DESC, w1, w2
    LIMIT 20
    """,
    "§2.11 corpus analytics (PMI collocation extraction)",
    "Top-20 collocations: adjacent-token bigrams over the standard "
    "cleaning pipeline scored by pointwise mutual information "
    "ln(p(ab) / (p(a) p(b))), min count 5 — the classic "
    "corpus-linguistics phrase detector (and word2vec-style phrase "
    "merge rule). Plan shape: bigrams are generated IN-ROW by "
    "zip_with over two shifted array slices (no posexplode self-join), "
    "so a d-token document emits its d-1 pairs map-side; bigram and "
    "unigram counting are both map-side-combinable groupBys; the "
    "unigram margins join back broadcast (vocab-sized), and the "
    "top-20 plans as TakeOrdered on the exact (unrounded) PMI with a "
    "(w1, w2) tiebreak — no global sort materialization. At 100 TB "
    "only (token, count) and (bigram, count) cells shuffle.",
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokens_pipeline(F.col("text")).alias("t")
    )
    uni = toks.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tu = uc.agg(F.sum("c").alias("n_uni"))
    sz = F.size("t")
    bi = toks.filter(sz >= 2).select(
        F.explode(
            F.zip_with(
                F.slice("t", F.lit(1), sz - 1),
                F.slice("t", F.lit(2), sz - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    tb = bc.agg(F.sum("n_ab").alias("n_bi"))
    ua = uc.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    ub = uc.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    scored = (
        bc.filter(F.col("n_ab") >= 5)
        .crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(tu))
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .withColumn(
            "__pmi",
            F.log(
                (F.col("n_ab").cast("double") / F.col("n_bi"))
                / (
                    (F.col("ca").cast("double") / F.col("n_uni"))
                    * (F.col("cb").cast("double") / F.col("n_uni"))
                )
            ),
        )
    )
    return (
        scored.orderBy(F.desc("__pmi"), "w1", "w2")
        .limit(20)
        .select("w1", "w2", "n_ab", F.round("__pmi", 6).alias("pmi"))
    )


@_register(
    "heaps_vocab_growth",
    f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens_pipeline('text')} AS t
        FROM documents
    ),
    fd AS (
        SELECT w, MIN(doc_id) AS first_doc
        FROM (SELECT doc_id, unnest(t) AS w FROM toks)
        GROUP BY 1
    ),
    mx AS (SELECT MAX(doc_id) AS m FROM documents),
    cp AS (
        SELECT v.denom, CAST(FLOOR(CAST(mx.m AS DOUBLE) / v.denom)
                             AS BIGINT) AS cutoff
        FROM (VALUES (8), (4), (2), (1)) v(denom), mx
    )
    SELECT cp.denom,
           cp.cutoff,
           (SELECT COUNT(*) FROM toks WHERE doc_id <= cp.cutoff) AS n_docs,
           (SELECT CAST(SUM(len(t)) AS BIGINT) FROM toks
             WHERE doc_id <= cp.cutoff) AS n_tokens,
           (SELECT COUNT(*) FROM fd WHERE first_doc <= cp.cutoff) AS vocab,
           ROUND((SELECT COUNT(*) FROM fd WHERE first_doc <= cp.cutoff)
                 / CAST((SELECT SUM(len(t)) FROM toks
                          WHERE doc_id <= cp.cutoff) AS DOUBLE), 6)
               AS type_token_ratio
    FROM cp
    """,
    "§2.11 corpus analytics (Heaps-law vocabulary growth curve)",
    "Vocabulary growth at 4 corpus prefixes (1/8, 1/4, 1/2, full by "
    "doc_id): distinct-type count, token count, and type-token ratio "
    "— the Heaps-law curve V(n) ~ K n^beta that sizes vocabularies, "
    "dictionaries, and hash domains before a full build. The key "
    "trick is ONE pass over the corpus: each type's first-occurrence "
    "doc (min doc_id, map-side combinable) makes 'vocab at prefix c' "
    "a count of first_doc <= c — no per-prefix rescan, no ordered "
    "accumulation. The 4 cutoffs broadcast against the type relation "
    "and the per-doc token counts. At 100 TB: one exploded groupBy "
    "for first occurrences plus a doc-level aggregate, both one "
    "shuffle of (key, long) pairs.",
)
def q_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokens_pipeline(F.col("text")).alias("t")
    )
    fd = (
        toks.select("doc_id", F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    mx = docs.agg(F.max("doc_id").alias("m"))
    cp = (
        spark.createDataFrame([(8,), (4,), (2,), (1,)], "denom int")
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("denom").cast("int").alias("denom"),
            F.floor(F.col("m").cast("double") / F.col("denom"))
            .cast("long")
            .alias("cutoff"),
        )
    )
    per_doc = toks.select("doc_id", F.size("t").alias("n_t"))
    doc_stats = (
        per_doc.join(F.broadcast(cp), per_doc.doc_id <= cp.cutoff)
        .groupBy("denom", "cutoff")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_t").cast("long").alias("n_tokens"),
        )
    )
    vocab = (
        fd.join(F.broadcast(cp), fd.first_doc <= cp.cutoff)
        .groupBy("denom", "cutoff")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    # build from the cutoff spine with LEFT joins: a cutoff preceding
    # every doc_id (re-keyed corpora, max(doc_id) < 8) has no doc_stats
    # or vocab row, but the oracle's scalar subqueries still emit it
    # (COUNT -> 0, SUM -> NULL) — an inner join would drop the row.
    return (
        cp.join(doc_stats, ["denom", "cutoff"], "left")
        .join(vocab, ["denom", "cutoff"], "left")
        .select(
            "denom",
            "cutoff",
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
            F.col("n_tokens"),  # NULL on empty prefixes, like oracle SUM
            F.coalesce(F.col("vocab"), F.lit(0)).cast("long").alias("vocab"),
            F.round(
                F.coalesce(F.col("vocab"), F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("type_token_ratio"),
        )
    )


@_register(
    "zipf_law_fit",
    f"""
    WITH tc AS (
        SELECT w, COUNT(*) AS c
        FROM (
            SELECT unnest({sql_tokens_pipeline('text')}) AS w
            FROM documents
        )
        GROUP BY 1
    ),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r
        FROM tc
    ),
    pts AS (
        SELECT CAST(ROUND(LN(CAST(r AS DOUBLE)) * 1000000000) AS HUGEINT)
                   AS x,
               CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000000) AS HUGEINT)
                   AS y
        FROM ranked WHERE r <= 500
    ),
    agg AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           ROUND(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE),
                 6) + 0 AS zipf_slope,
           ROUND((CAST(sy AS DOUBLE)
                  - CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                    * CAST(sx AS DOUBLE))
                 / n / 1000000000.0, 6) + 0 AS zipf_intercept_ln,
           ROUND(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                 * CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                 / (CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                    * CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)),
                 6) + 0 AS r_squared
    FROM agg
    """,
    "§2.11 corpus analytics (Zipf-law rank-frequency fit)",
    "Zipf's law check: log-log OLS of term frequency against frequency "
    "rank over the top-500 ranks — slope ~ -1 on natural language, and "
    "deviations flag templated/synthetic corpora (the Heaps twin: that "
    "one sizes the vocabulary, this one shapes it). Determinism "
    "discipline is measure_correlation's: both log coordinates are "
    "quantized to exact 1e-9 integers, the five sufficient statistics "
    "sum EXACTLY (DECIMAL(38,0) / HUGEINT — order-independent under "
    "any partitioning), and slope/intercept/R^2 evaluate in an "
    "identical double expression on both engines (slope and R^2 are "
    "scale-invariant in the quantized units; the intercept divides the "
    "quantum back out once). The rank comes from the range-partitioned "
    "two-phase global rank, not a single-partition window. At 100 TB "
    "the only corpus-sized cost is the term-count groupBy; the fit "
    "runs on 500 rows.",
)
def q_zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._shared import ordered_dense_rank

    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(tokens_pipeline(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # r14 (guide §2.3): rank only the key struct — the count is
    # recovered from the struct (exact integer negation), so the rank
    # materialization carries one copy of (count, term) instead of two;
    # key values, hence ranks and the fitted points, unchanged
    keyed = tc.select(
        F.struct((-F.col("c")).alias("nc"), F.col("w")).alias("__k")
    )
    ranked = ordered_dense_rank(keyed, "__k", rank_col="r").select(
        (-F.col("__k.nc")).alias("c"), "r"
    )
    q = 1_000_000_000
    pts = ranked.filter(F.col("r") <= 500).select(
        F.round(F.log(F.col("r").cast("double")) * q)
        .cast("decimal(38,0)")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")) * q)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dxx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dyy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / dxx
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        (F.round(slope, 6) + F.lit(0.0)).alias("zipf_slope"),
        (
            F.round(
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("n")
                / float(q),
                6,
            )
            + F.lit(0.0)
        ).alias("zipf_intercept_ln"),
        (F.round(num * num / (dxx * dyy), 6) + F.lit(0.0)).alias("r_squared"),
    )


_IR_TERMS = ("spark", "query", "merge")


@_register(
    "retrieval_metrics_ndcg",
    f"""
    WITH tok AS (
        SELECT doc_id, {sql_simple_tokens('text')} AS tk FROM documents
    ),
    dl AS (SELECT doc_id, len(tk) AS dl FROM tok),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(CAST(dl AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*)
                   AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, t.tok AS term, COUNT(*) AS tf
        FROM tok, UNNEST(tk) AS t(tok)
        WHERE t.tok IN {tuple(_IR_TERMS)!r}
        GROUP BY doc_id, t.tok
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.term, tf.doc_id, tf.tf,
               ROUND(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)),
                   9) AS s
        FROM tf JOIN df USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
    ),
    ranked AS (
        SELECT term, doc_id, tf, s,
               ROW_NUMBER() OVER (PARTITION BY term
                                  ORDER BY s DESC, doc_id) AS r,
               ROW_NUMBER() OVER (PARTITION BY term
                                  ORDER BY tf DESC, doc_id) AS ir
        FROM scored
    )
    SELECT term,
           COUNT(*) AS n_matched,
           ROUND(SUM(CASE WHEN r <= 10
                          THEN tf / (LN(r + 1.0) / LN(2.0)) ELSE 0 END)
                 / SUM(CASE WHEN ir <= 10
                            THEN tf / (LN(ir + 1.0) / LN(2.0)) ELSE 0 END),
                 6) AS ndcg10,
           ROUND(COALESCE(1.0 / MIN(CASE WHEN tf >= 2 THEN r END), 0.0), 6)
               AS mrr,
           ROUND(SUM(CASE WHEN r <= 10 AND tf >= 2 THEN 1 ELSE 0 END)
                 / 10.0, 6) AS p_at_10
    FROM ranked GROUP BY term
    """,
    "§2.11 retrieval evaluation (nDCG@10 / MRR / P@10 per query)",
    "Ranking-quality metrics for the BM25 retrieval arm: per query "
    "term, nDCG@10 with graded gains (gain = raw term frequency; ideal "
    "ranking = gain order), reciprocal rank of the first highly-"
    "relevant hit (tf >= 2), and precision@10 — the evaluation "
    "operators a retrieval pipeline runs next to the index build "
    "(inverted_index_postings) and ranker (bm25_retrieval, same "
    "Lucene-variant scoring formula and constants). Determinism: "
    "scores round to 9 decimals before ranking with a doc_id "
    "tiebreak, so both engines rank identically; log2 discounts are "
    "ln ratios in one shared expression. Plan shape: the query-term "
    "filter prunes the explode BEFORE any shuffle; both rank windows "
    "partition BY TERM over the matched postings only; every "
    "downstream aggregate is per-term. At 100 TB per-query match "
    "lists are top-k-pruned first (takeOrdered per term) — the "
    "metric arithmetic itself is rank-bounded.",
)
def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", tokenize(F.col("text")).alias("tk"))
    dl = tok.select("doc_id", F.size("tk").alias("dl"))
    stats = F.broadcast(
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("dl").cast("decimal(18,0)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avgdl"),
        )
    )
    tf = (
        tok.select("doc_id", F.explode("tk").alias("term"))
        .where(F.col("term").isin(*_IR_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = F.broadcast(tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    scored = (
        tf.join(df_t, "term")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .select(
            "term",
            "doc_id",
            "tf",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                ),
                9,
            ).alias("s"),
        )
    )
    wr = Window.partitionBy("term").orderBy(F.desc("s"), "doc_id")
    wi = Window.partitionBy("term").orderBy(F.desc("tf"), "doc_id")
    ranked = scored.select(
        "term",
        "tf",
        F.row_number().over(wr).alias("r"),
        F.row_number().over(wi).alias("ir"),
    )
    log2 = lambda c: F.log(c) / F.log(F.lit(2.0))  # noqa: E731
    dcg = F.sum(
        F.when(F.col("r") <= 10, F.col("tf") / log2(F.col("r") + 1.0)).otherwise(
            0.0
        )
    )
    idcg = F.sum(
        F.when(
            F.col("ir") <= 10, F.col("tf") / log2(F.col("ir") + 1.0)
        ).otherwise(0.0)
    )
    first_rel = F.min(F.when(F.col("tf") >= 2, F.col("r")))
    return ranked.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.round(dcg / idcg, 6).alias("ndcg10"),
        F.round(F.coalesce(1.0 / first_rel, F.lit(0.0)), 6).alias("mrr"),
        F.round(
            F.sum(
                ((F.col("r") <= 10) & (F.col("tf") >= 2)).cast("int")
            )
            / 10.0,
            6,
        ).alias("p_at_10"),
    )


_NEG_BUDGET = 1_000_000


@_register(
    "negative_sampling_table",
    f"""
    WITH tc AS (
        SELECT w AS term, COUNT(*) AS c
        FROM (
            SELECT unnest({sql_tokens_pipeline('text')}) AS w
            FROM documents
        )
        GROUP BY 1
    ),
    wq AS (
        SELECT term, c,
               CAST(ROUND(SQRT(SQRT(CAST(c AS DOUBLE) * c * c)) * 1000000)
                    AS HUGEINT) AS wq
        FROM tc
    ),
    sw AS (SELECT SUM(wq) AS sw FROM wq),
    base AS (
        SELECT term, c, wq, sw,
               CAST({_NEG_BUDGET} AS HUGEINT) * wq // sw AS base_draws,
               CAST({_NEG_BUDGET} AS HUGEINT) * wq % sw AS rem
        FROM wq, sw
    ),
    k AS (
        SELECT CAST({_NEG_BUDGET} AS HUGEINT) - SUM(base_draws) AS k
        FROM base
    ),
    ranked AS (
        SELECT base.*, k.k,
               ROW_NUMBER() OVER (ORDER BY rem DESC, term) AS rr
        FROM base, k
    )
    SELECT term, c,
           ROUND(CAST(wq AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS p,
           CAST(base_draws + CASE WHEN rr <= k THEN 1 ELSE 0 END
                AS BIGINT) AS draws
    FROM ranked
    ORDER BY draws DESC, term
    LIMIT 50
    """,
    "§2.11 training-data ops (negative-sampling table, exact apportionment)",
    "The word2vec negative-sampling distribution P(t) ∝ count^0.75, "
    f"apportioned EXACTLY over a fixed budget of {_NEG_BUDGET} draws "
    "via largest-remainder (Hamilton) rounding — the table a training "
    "pipeline ships to samplers, with sum(draws) == budget exactly "
    "(floor rounding alone under-allocates; naive per-term rounding "
    "over- or under-shoots). Determinism discipline: count^0.75 is "
    "computed as sqrt(sqrt(c^3)) — c^3 is integer-exact below 2^53 "
    "and sqrt is IEEE-correctly-rounded, so unlike pow()'s "
    "transcendental path the weight is bit-equal on both engines; "
    "weights quantize to 1e-6 integer units, every downstream "
    "quantity (sum, base draws, remainders, the shortfall k) is EXACT "
    "INTEGER arithmetic, and the +1 top-up goes to the k largest "
    "remainders under a total (remainder, term) order via the "
    "range-partitioned two-phase global rank. Plan: one token-count "
    "groupBy, one 1-row weight-sum broadcast, one rank exchange over "
    "the vocab relation; top-50 as TakeOrdered.",
)
def q_negative_sampling_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ._shared import ordered_dense_rank

    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(tokens_pipeline(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = F.sqrt(F.sqrt(F.col("c").cast("double") * F.col("c") * F.col("c")))
    wq = tc.select(
        "term",
        "c",
        F.round(w * 1000000).cast("decimal(38,0)").alias("wq"),
    )
    sw = wq.agg(F.sum("wq").alias("sw"))
    n = F.lit(_NEG_BUDGET).cast("decimal(38,0)")
    # base_draws must be the EXACT integer quotient (n*wq) // sw: Spark
    # decimal division rounds the quotient to scale 6 (HALF_UP) BEFORE
    # floor, so a term whose true fractional part is >= 1-5e-7 would
    # floor one too high — and exactly those terms have rem ~= sw, so
    # the Hamilton top-up would double-allocate them. rem = (n*wq) % sw
    # is exact, hence (n*wq - rem) is an exact multiple of sw and its
    # decimal quotient is the exact integer — no rounding can move it.
    prod = n * F.col("wq")
    rem = prod % F.col("sw")
    base = wq.crossJoin(F.broadcast(sw)).select(
        "term",
        "c",
        "wq",
        "sw",
        ((prod - rem) / F.col("sw")).cast("decimal(38,0)").alias("base_draws"),
        rem.alias("rem"),
    )
    k = base.agg((n - F.sum("base_draws")).alias("k"))
    keyed = base.withColumn(
        "__k", F.struct((-F.col("rem")).alias("nr"), F.col("term"))
    )
    ranked = ordered_dense_rank(keyed, "__k", rank_col="rr")
    return (
        ranked.crossJoin(F.broadcast(k))
        .select(
            "term",
            "c",
            F.round(
                F.col("wq").cast("double") / F.col("sw").cast("double"), 6
            ).alias("p"),
            (
                F.col("base_draws")
                + F.when(F.col("rr") <= F.col("k"), 1).otherwise(0)
            )
            .cast("long")
            .alias("draws"),
        )
        .orderBy(F.desc("draws"), "term")
        .limit(50)
    )


@_register(
    "unigram_entropy_quality",
    f"""
    WITH tok AS (
        SELECT doc_id, source, unnest({sql_simple_tokens('text')}) AS w
        FROM documents
    ),
    tc AS (
        SELECT doc_id, source, w, COUNT(*) AS c
        FROM tok GROUP BY doc_id, source, w
    ),
    d AS (
        SELECT doc_id, source,
               ROUND(LN(CAST(SUM(c) AS DOUBLE))
                     - SUM(c * LN(CAST(c AS DOUBLE)))
                       / CAST(SUM(c) AS DOUBLE), 6) AS h,
               COUNT(*) AS types
        FROM tc GROUP BY doc_id, source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(h), 6) AS avg_entropy,
           MIN(h) AS min_entropy,
           MAX(h) AS max_entropy,
           ROUND(AVG(CAST(types AS DOUBLE)), 6) AS avg_types,
           CAST(SUM(CASE WHEN h < 2.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_low_entropy
    FROM d GROUP BY source
    """,
    "§2.11 text analysis (unigram-entropy quality signal)",
    "The CCNet-family repetitiveness signal: per-document Shannon "
    "entropy of the unigram distribution, rolled up per source with a "
    "low-entropy (template/boilerplate) count at H < 2.5 nats. "
    "Numerics discipline: H computes as ln(n) - (SUM c*ln c)/n — one "
    "log per DISTINCT term plus exact integer sufficient statistics, "
    "no per-occurrence p*ln(p) terms — and rounds to 6 decimals PER "
    "DOCUMENT before any cross-document aggregate, so min/max/"
    "threshold comparisons see identical values on both engines "
    "(within-doc float error is ~1e-14, far inside the rounding). "
    "Plan shape: one explode, a (doc, term) partial-aggregated "
    "exchange, a doc-level aggregate, and a source-level rollup — "
    "token payloads shuffle once as (doc_id, term, count) triples, "
    "the quality verdict is 20 rows. At 100 TB this is the cheapest "
    "quality gate that catches machine-generated repetition, which "
    "length/stopword ratios (text_quality) miss.",
)
def q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select(
            "doc_id", "source", F.explode(tokenize(F.col("text"))).alias("w")
        )
        .groupBy("doc_id", "source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").cast("double")
    d = tc.groupBy("doc_id", "source").agg(
        F.round(
            F.log(n) - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n,
            6,
        ).alias("h"),
        F.count(F.lit(1)).alias("types"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("h"), 6).alias("avg_entropy"),
        F.min("h").alias("min_entropy"),
        F.max("h").alias("max_entropy"),
        F.round(F.avg(F.col("types").cast("double")), 6).alias("avg_types"),
        F.sum((F.col("h") < 2.5).cast("int")).cast("long").alias(
            "n_low_entropy"
        ),
    )
