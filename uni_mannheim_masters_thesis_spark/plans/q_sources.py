"""Source/sink format queries (roundtrips, N-Quads, model save/load, multimodal columns).

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
    QuerySpec,
    REGISTRY,
    SparkSession,
    _NQUADS_PREFIX,
    _NQUADS_SAMPLE_LINES,
    _dec,
    _dsum,
    _nquads_oracle_sql,
    _register,
    _t,
    ordered_dense_rank,
    sql_tokens_pipeline,
    tokens_pipeline,
)




@_register(
    "nquads_provenance",
    None,  # replaced below by _nquads_oracle_sql() — needs the sample
    "S1, J1-J3, P1/P2 (N-Quads scan + two-hop provenance traversal)",
    "Parses an inline WebIsALOD-shaped N-Quads sample and runs the "
    "two-hop wasDerivedFrom/value traversal (Read_And_Clean.py:114-146). "
    "The DuckDB oracle parses the SAME raw lines with the same regex "
    "grammar and replicates per-graph-first + both hops relationally.",
)
def q_nquads(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.nquads import parse_nquads_lines, provenance_sentences

    raw = spark.createDataFrame(
        [(line,) for line in _NQUADS_SAMPLE_LINES], ["value"]
    )
    quads = parse_nquads_lines(raw)
    return provenance_sentences(quads, _NQUADS_PREFIX)


# patch the registered spec with the generated oracle (the sample lines
# are defined after the decorator runs)
REGISTRY["nquads_provenance"] = QuerySpec(
    fn=REGISTRY["nquads_provenance"].fn,
    sql=_nquads_oracle_sql(),
    survey=REGISTRY["nquads_provenance"].survey,
    doc=REGISTRY["nquads_provenance"].doc,
)


@_register(
    "multimodal_decode",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256,
           CAST(64 + ('0x' || substring(sha256(text), 1, 2))::INT % 192 AS INT) AS width,
           CAST(64 + ('0x' || substring(sha256(text), 3, 2))::INT % 192 AS INT) AS height,
           array_to_string(list_transform(range(0, 8),
               i -> CAST(CAST(round(
                   ('0x' || substring(sha256(text), CAST(5 + i * 2 AS BIGINT), 2))::INT / 255.0,
                   6) AS DECIMAL(18,6)) AS VARCHAR)
           ), ',') AS feature
    FROM documents
    """,
    "§2.11 multimodal columns (binary payload → metadata + features)",
    "Arrow-batched mapInPandas over a binary column: deterministic "
    "stub decoder (real image/audio libs not in container) producing "
    "dims + an 8-dim feature vector; the Spark plumbing is real. The "
    "stub derives everything from sha256(payload), which DuckDB also "
    "exposes — so the oracle replays the decode EXACTLY (byte i of the "
    "digest = hex pair i of the hash string), upgrading this from a "
    "rows-only check to full hash parity.",
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_binary_column, documents_as_binary

    docs = _t(spark, sf_dir, "documents")
    decoded = decode_binary_column(documents_as_binary(docs))
    # the operator's API keeps feature as array<double>; the registry
    # wrapper serializes it (fixed-scale decimal strings) because the
    # driver's pandas canonicalizer can't sort array columns
    return decoded.withColumn(
        "feature",
        F.concat_ws(
            ",",
            F.transform(
                F.col("feature"),
                lambda p: F.round(p, 6).cast("decimal(18,6)").cast("string"),
            ),
        ),
    )


@_register(
    "csv_metrics_roundtrip",
    """
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) + 0 AS total_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
    "S6/S7 (CSV sink + scan)",
    "Metrics-log roundtrip (polysemous_words.py:164-178 sink, "
    "evaluate.py:78-86 scan): aggregate → write headered CSV → read back "
    "with explicit schema. The oracle checks the post-roundtrip values, "
    "so type fidelity through the text format is part of the contract.",
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.formats import csv_roundtrip

    cust = _t(spark, sf_dir, "customer")
    metrics = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        _dsum(_dec("c_acctbal")).alias("total_acctbal"),
    )
    return csv_roundtrip(
        metrics, "segment string, n_customers long, total_acctbal double"
    )


@_register(
    "json_artifact_roundtrip",
    """
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source, lang
    """,
    "S5 (JSON artifact write/read)",
    "jsonpickle-style artifact persistence (polysemous_words.py:111-126) "
    "as a JSON-lines roundtrip with explicit schema on read.",
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.formats import json_roundtrip

    docs = _t(spark, sf_dir, "documents")
    gold = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return json_roundtrip(
        gold, "source string, lang string, n_docs long, total_chars long"
    )


@_register(
    "dictionary_text_roundtrip",
    f"""
    WITH vocab AS (
        SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docfreq
        FROM (SELECT doc_id, unnest({sql_tokens_pipeline('text')}) AS token FROM documents)
        GROUP BY token HAVING COUNT(DISTINCT doc_id) >= 3
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY token) - 1 AS INT) AS id, token, docfreq
    FROM vocab
    """,
    "S9 (gensim dictionary text format)",
    "Dictionary.load_from_text format (wiki_lda.py:13): vocabulary with "
    "deterministic ids → `num_docs` header + id\\ttoken\\tdocfreq lines → "
    "parsed back. Oracle recomputes the table directly.",
)
def q_dictionary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.formats import read_dictionary_text, write_dictionary_text

    docs = _t(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", F.explode(tokens_pipeline(F.col("text"))).alias("token")
    )
    vocab = (
        exploded.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("docfreq"))
        .filter(F.col("docfreq") >= 3)
    )
    # two-phase ordered rank, not Window.orderBy("token") — a global
    # unpartitioned window is a single-executor sort at corpus scale
    with_ids = (
        ordered_dense_rank(vocab, "token", rank_col="__r")
        .withColumn("id", (F.col("__r") - 1).cast("int"))
        .select("id", "token", "docfreq")
    )
    target = write_dictionary_text(with_ids, num_docs=docs.count())
    return read_dictionary_text(spark, target)


@_register(
    "matrix_market_roundtrip",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({sql_tokens_pipeline('text')}) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY token),
    ids AS (SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) - 1 AS BIGINT) AS term_id FROM df),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id AS row_id, ids.term_id AS col_id,
           ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS value
    FROM tf JOIN df USING (token) JOIN ids USING (token) CROSS JOIN n
    WHERE tf.doc_id < 20
    """,
    "S10 (Matrix Market corpus scan/sink)",
    "MmCorpus roundtrip (wiki_lda.py:14): TF-IDF triplets → "
    "`%%MatrixMarket` coordinate text → parsed back to (row, col, value). "
    "Oracle recomputes the triplets directly.",
)
def q_matrix_market_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.formats import read_matrix_market, write_matrix_market

    docs = _t(spark, sf_dir, "documents")
    # tf is only needed for the exported docs — push the doc_id predicate
    # into that branch (reaches the parquet scan); document frequencies
    # still come from the full corpus, cached (vocab-sized) because the
    # id assignment and the term count reuse it
    toks_small = docs.filter(F.col("doc_id") < 20).select(
        "doc_id", F.explode(tokens_pipeline(F.col("text"))).alias("token")
    )
    tf = toks_small.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    toks_all = docs.select(
        "doc_id", F.explode(tokens_pipeline(F.col("text"))).alias("token")
    )
    dfreq = toks_all.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    ).cache()
    try:
        ids = (
            ordered_dense_rank(dfreq.select("token"), "token", rank_col="__r")
            .withColumn("term_id", (F.col("__r") - 1).cast("long"))
            .select("token", "term_id")
        )
        n_docs = docs.count()
        triplets = (
            tf.join(F.broadcast(dfreq), "token")
            .join(F.broadcast(ids), "token")
            .select(
                F.col("doc_id").alias("row_id"),
                F.col("term_id").alias("col_id"),
                F.round(
                    F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6
                ).alias("value"),
            )
        )
        n_terms = dfreq.count()
        target = write_matrix_market(triplets, n_rows=n_docs, n_cols=n_terms)
    finally:
        dfreq.unpersist()
    return read_matrix_market(spark, target)


@_register(
    "model_save_load",
    f"""
    WITH v AS (
        SELECT token FROM (
            SELECT doc_id, unnest({sql_tokens_pipeline('text')}) AS token
            FROM documents
        ) GROUP BY token HAVING COUNT(DISTINCT doc_id) >= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
           CAST(COUNT(*) AS BIGINT) AS n_loaded,
           CAST(COUNT(*) AS BIGINT) AS n_match
    FROM v
    """,
    "S11 (MLlib model persistence)",
    "CountVectorizerModel save/load roundtrip (gensim model.save/load, "
    "webisalod_lda.py:48,57): vocabulary survives persistence verbatim. "
    "Oracle-exact: CountVectorizer(minDF=3) vocabulary size is the "
    "count of tokens appearing in ≥3 documents, which DuckDB recomputes "
    "directly; a lossy save/load would break n_loaded/n_match equality "
    "against that independent count.",
)
def q_model_save_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import CountVectorizer, CountVectorizerModel

    from ..sources.formats import model_save_load_roundtrip

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokens_pipeline(F.col("text")).alias("tokens")
    )
    cv = CountVectorizer(inputCol="tokens", outputCol="tf", minDF=3.0)
    model = cv.fit(toks)
    loaded = model_save_load_roundtrip(model, CountVectorizerModel)
    orig, back = model.vocabulary, loaded.vocabulary
    n_match = sum(1 for a, b in zip(orig, back) if a == b)
    return spark.createDataFrame(
        [(len(orig), len(back), n_match)],
        "n_vocab long, n_loaded long, n_match long",
    )


# =========================================================================
# Batch 4: XML corpus ingest (S12), per-fold metric stats (A7), 3-way
# membership classification (J8), multimodal frame sampling, stream-static
# join
# =========================================================================


@_register(
    "xml_corpus_roundtrip",
    "SELECT doc_id, lang, source, n_chars FROM documents",
    "S12 (XML dump ingest)",
    "Wikipedia-XML-dump ingest path (README.md:15-33) on Spark's native "
    "XML source: write the corpus metadata as <doc> rows, read it back "
    "with rowTag + explicit schema. Oracle checks the parsed rows.",
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..scratch import session_dir

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    target = os.path.join(session_dir("xml_corpus_"), "dump")
    (
        docs.write.format("xml")
        .option("rootTag", "corpus")
        .option("rowTag", "doc")
        .mode("overwrite")
        .save(target)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id long, lang string, source string, n_chars long")
        .load(target)
    )


@_register(
    "make_wiki_pipeline",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({sql_tokens_pipeline('text')}) AS token FROM documents
    ),
    dfreq AS (
        SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docfreq
        FROM toks GROUP BY token HAVING COUNT(DISTINCT doc_id) >= 3
    ),
    dict AS (
        SELECT token, docfreq,
               CAST(ROW_NUMBER() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
        FROM dfreq
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, dict.token_id, dict.token,
           ROUND(tf.tf * ln((n.n_docs + 1.0) / (dict.docfreq + 1.0)), 6) AS tfidf
    FROM tf JOIN dict USING (token) CROSS JOIN n
    WHERE tf.doc_id < 20
    """,
    "S12+T1-T4+A1/A3+S9+A10 (make_wiki end-to-end composition)",
    "The reference's make_wiki entry point composed end-to-end "
    "(README.md:15-33, wiki_lda.py:13-14: gensim make_wiki = XML dump "
    "→ tokenize → Dictionary(filter_extremes) → wordids file → TF-IDF "
    "corpus): the corpus is written as an XML dump and re-ingested "
    "(S12), tokenized (T1-T4), the minDF-filtered vocabulary is "
    "assigned dense token ids and round-tripped through the gensim "
    "dictionary TEXT format (S9 sink + scan), and the BoW counts join "
    "the re-read dictionary for smoothed TF-IDF (A10). The oracle "
    "computes the identical relation straight from `documents` — so a "
    "mangled XML escape, a dictionary-format drift, or an id "
    "misassignment anywhere in the chain breaks the hash. The "
    "token-id window sorts only the vocabulary (bounded ≤ vocab-cap "
    "rows — gensim holds the same dictionary in driver memory); the "
    "corpus-sized relations shuffle by token/doc_id only, and the "
    "dictionary joins back broadcast.",
)
def q_make_wiki_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..scratch import session_dir
    from ..sources.formats import read_dictionary_text, write_dictionary_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dump = os.path.join(session_dir("make_wiki_"), "dump")
    (
        docs.write.format("xml")
        .option("rootTag", "corpus")
        .option("rowTag", "doc")
        .mode("overwrite")
        .save(dump)
    )
    ingested = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id long, text string")
        .load(dump)
    )
    n_docs = ingested.count()  # driver scalar, folded into the idf literal
    toks = ingested.select(
        "doc_id", F.explode(tokens_pipeline(F.col("text"))).alias("token")
    )
    dfreq = (
        toks.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("docfreq"))
        .filter(F.col("docfreq") >= 3)
    )
    # two-phase ordered rank (operators/indexing.py), NOT
    # row_number().over(Window.orderBy("token")) — same reasoning as
    # dictionary_text_roundtrip: a global unpartitioned window sorts
    # the whole vocabulary on one executor at corpus scale
    dict_ids = (
        ordered_dense_rank(dfreq, "token", rank_col="__r")
        .withColumn("id", (F.col("__r") - 1).cast("long"))
        .select("id", "token", "docfreq")
    )
    wordids = write_dictionary_text(dict_ids, num_docs=n_docs)
    dictionary = read_dictionary_text(spark, wordids)
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.join(F.broadcast(dictionary), "token")
        .filter(F.col("doc_id") < 20)
        .select(
            "doc_id",
            F.col("id").cast("long").alias("token_id"),
            "token",
            F.round(
                F.col("tf") * F.log((n_docs + 1.0) / (F.col("docfreq") + 1.0)), 6
            ).alias("tfidf"),
        )
    )


@_register(
    "partitioned_write_pruning",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE source IN ('src0', 'src1', 'src2')
    GROUP BY lang
    """,
    "S4/§2.1 extended (partitioned layout + partition pruning)",
    "The 100 TB layout primitive: write the corpus hive-partitioned by "
    "`source` (`write.partitionBy` — one directory per partition "
    "value), read it back, and aggregate a 3-partition slice. The "
    "`source IN (...)` predicate prunes at PLANNING time — the scan "
    "touches only the matching directories (visible as "
    "PartitionFilters in the plan, pinned by a plan test), which is "
    "how a petabyte corpus serves selective queries at "
    "partition-subset cost. Oracle aggregates the same slice from the "
    "original table.",
)
def q_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..scratch import session_dir

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "source"
    )
    target = os.path.join(session_dir("part_corpus_"), "docs")
    docs.write.partitionBy("source").mode("overwrite").parquet(target)
    back = spark.read.parquet(target)
    return (
        back.filter(F.col("source").isin("src0", "src1", "src2"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@_register(
    "orc_corpus_roundtrip",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
    "S5-S7 extended (columnar ORC source/sink)",
    "Source-format breadth: the corpus metadata aggregate written as "
    "ORC (Spark's second native columnar format — predicate pushdown "
    "and column pruning work the same as parquet) and read back with "
    "an explicit schema. Oracle recomputes the aggregate from the "
    "original table, so a lossy roundtrip breaks the hash.",
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..scratch import session_dir

    agg = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
    target = os.path.join(session_dir("orc_corpus_"), "agg")
    agg.write.mode("overwrite").orc(target)
    return spark.read.schema(
        "source string, n_docs long, total_chars long"
    ).orc(target)


@_register(
    "multimodal_frame_sample",
    """
    WITH payloads AS (
        -- the corpus text is pure ASCII, so VARCHAR chunking here equals
        -- the byte chunking Spark does on the binary payload
        SELECT doc_id, text AS payload FROM documents WHERE doc_id < 50
    ),
    frames AS (
        SELECT doc_id, i AS frame_idx,
               substring(payload, CAST(1 + i * 32 AS BIGINT), 32) AS frame
        FROM payloads, unnest(range(0, 1 + CAST(floor((length(payload) - 1) / 32) AS BIGINT), 4)) AS t(i)
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(octet_length(encode(frame)) AS INT) AS frame_bytes,
           sha256(frame) AS frame_sha256
    FROM frames WHERE length(frame) > 0
    """,
    "§2.11 multimodal (frame sampling over a binary column)",
    "Video-style frame sampling as pure relational ops: the opaque "
    "binary payload is chunked into fixed 32-byte 'frames', every 4th "
    "frame is sampled (sequence + substring — no UDF), each fingerprinted "
    "with sha256. The decode stub stays in operators.multimodal; this is "
    "the samping plan the real decoder plugs into.",
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    payloads = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    # greatest(...,1): an empty payload would make the sequence bound
    # (0, -1) and throw; one zero-length frame instead, which the final
    # frame_bytes > 0 filter drops — same empty result as the oracle
    n_frames = F.greatest(
        (F.floor((F.octet_length("payload") - 1) / 32) + 1).cast("long"), F.lit(1)
    )
    frames = payloads.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n_frames - 1, F.lit(4).cast("long"))).alias("frame_idx"),
        "payload",
    ).select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.expr("substring(payload, 1 + frame_idx * 32, 32)").alias("frame"),
    )
    return frames.filter(F.octet_length("frame") > 0).select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame").cast("int").alias("frame_bytes"),
        F.sha2(F.col("frame"), 256).alias("frame_sha256"),
    )


@_register(
    "multimodal_resize",
    """
    WITH d AS (
        SELECT doc_id,
               CAST(64 + ('0x' || substring(sha256(text), 1, 2))::INT
                    % 192 AS INT) AS width,
               CAST(64 + ('0x' || substring(sha256(text), 3, 2))::INT
                    % 192 AS INT) AS height
        FROM documents
    )
    SELECT doc_id, width, height,
           CAST(FLOOR(width * LEAST(224.0 / width, 224.0 / height, 1.0))
                AS INT) AS out_width,
           CAST(FLOOR(height * LEAST(224.0 / width, 224.0 / height, 1.0))
                AS INT) AS out_height,
           TRUE AS ok_fits
    FROM d
    """,
    "§2.11 multimodal columns (aspect-preserving resize geometry)",
    "The resize stage of the multimodal family (decode / resize / "
    "frame-sample / feature-extract): each payload's decoded "
    "dimensions fit aspect-preserved into a 224-box, downscale-only — "
    "the preprocessing every ViT-style image model needs. The pixel "
    "resample is the stubbed step (PIL not in container; BASELINE "
    "scope note), but the Arrow-batched mapInPandas plumbing and the "
    "fit GEOMETRY are real — and the geometry is pure IEEE double "
    "math off the sha256-derived dims, so the oracle replays every "
    "output dimension exactly (a floor/scale disagreement of one "
    "pixel breaks the hash). At 100 TB this is the same "
    "embarrassingly-parallel one-Arrow-crossing shape as the "
    "decoder.",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        documents_as_binary,
        resize_binary_column,
    )

    docs = _t(spark, sf_dir, "documents")
    return resize_binary_column(documents_as_binary(docs))


@_register(
    "multimodal_container_parse",
    """
    WITH packed AS (
        SELECT doc_id, source,
               encode(text) AS payload,
               sha256(text) AS sha,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    ),
    hdr AS (
        SELECT doc_id, source, payload, sha, n_bytes,
               64 + ('0x' || substring(sha, 1, 2))::INT % 192 AS width,
               64 + ('0x' || substring(sha, 3, 2))::INT % 192 AS height
        FROM packed
    ),
    container AS (
        SELECT doc_id, source, sha, n_bytes, width, height,
               from_hex('4D4D3031'
                        || lpad(to_hex(width), 4, '0')
                        || lpad(to_hex(height), 4, '0')) || payload AS c
        FROM hdr
    ),
    hexed AS (
        SELECT source, width, height, sha, n_bytes,
               upper(to_hex(c)) AS ch
        FROM container
    ),
    parsed AS (
        SELECT source, width, height, sha, n_bytes,
               substring(ch, 1, 8) = '4D4D3031' AS ok_magic,
               ('0x' || substring(ch, 9, 4))::INT AS p_width,
               ('0x' || substring(ch, 13, 4))::INT AS p_height,
               sha256(decode(from_hex(substring(ch, 17, n_bytes * 2))))
                   = sha AS ok_payload
        FROM hexed
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN ok_magic THEN 1 ELSE 0 END) AS BIGINT)
               AS n_magic_ok,
           CAST(SUM(CASE WHEN p_width = width AND p_height = height
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dims_ok,
           CAST(SUM(CASE WHEN ok_payload THEN 1 ELSE 0 END) AS BIGINT)
               AS n_payload_intact,
           CAST(SUM(p_width) AS BIGINT) AS sum_width,
           CAST(SUM(p_height) AS BIGINT) AS sum_height
    FROM parsed GROUP BY 1
    """,
    "§2.11 multimodal (binary container pack + header parse roundtrip)",
    "Byte-level container surgery on the opaque BINARY column, no UDF: "
    "each payload is packed into a RIFF-style container (4-byte magic "
    "'MM01' + big-endian u16 width/height derived from the payload "
    "digest — the decode stub's metadata contract) and then PARSED "
    "BACK with pure column byte functions (binary substring, hex/"
    "unhex, integer conv), verifying magic, dimension fields, and "
    "payload integrity (sha256 of the sliced-back body equals the "
    "original digest — one lost or shifted byte breaks the hash). "
    "This is the schema-on-byte plumbing a real media lakehouse needs "
    "before any codec runs, and it stays entirely inside whole-stage "
    "codegen: pack, slice and verify are per-row expressions; the "
    "only aggregate is the per-source report. At 100 TB payload bytes "
    "never shuffle — the report moves counts.",
)
def q_multimodal_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    sha = F.sha2(payload, 256)
    packed = docs.select(
        "doc_id",
        "source",
        payload.alias("payload"),
        sha.alias("sha"),
        F.octet_length(payload).alias("n_bytes"),
    )
    hx = lambda s, p: F.conv(F.substring(s, p, 2), 16, 10).cast("int")  # noqa: E731
    hdr = packed.select(
        "*",
        (64 + hx(F.col("sha"), 1) % 192).alias("width"),
        (64 + hx(F.col("sha"), 3) % 192).alias("height"),
    )
    header_hex = F.concat(
        F.lit("4D4D3031"),
        F.lpad(F.conv(F.col("width").cast("string"), 10, 16), 4, "0"),
        F.lpad(F.conv(F.col("height").cast("string"), 10, 16), 4, "0"),
    )
    container = hdr.select(
        "source",
        "sha",
        "n_bytes",
        "width",
        "height",
        F.concat(F.unhex(header_hex), F.col("payload")).alias("c"),
    )
    parsed = container.select(
        "source",
        "width",
        "height",
        (F.upper(F.hex(F.substring(F.col("c"), 1, 4))) == "4D4D3031").alias(
            "ok_magic"
        ),
        F.conv(F.hex(F.substring(F.col("c"), 5, 2)), 16, 10)
        .cast("int")
        .alias("p_width"),
        F.conv(F.hex(F.substring(F.col("c"), 7, 2)), 16, 10)
        .cast("int")
        .alias("p_height"),
        (
            F.sha2(
                F.expr("substring(c, 9, n_bytes)"), 256
            )
            == F.col("sha")
        ).alias("ok_payload"),
    )
    return parsed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("ok_magic").cast("int")).cast("long").alias("n_magic_ok"),
        F.sum(
            (
                (F.col("p_width") == F.col("width"))
                & (F.col("p_height") == F.col("height"))
            ).cast("int")
        )
        .cast("long")
        .alias("n_dims_ok"),
        F.sum(F.col("ok_payload").cast("int"))
        .cast("long")
        .alias("n_payload_intact"),
        F.sum("p_width").cast("long").alias("sum_width"),
        F.sum("p_height").cast("long").alias("sum_height"),
    )
