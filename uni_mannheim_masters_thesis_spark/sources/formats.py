"""Source/sink formats beyond parquet (reference S5-S11).

Each helper is a *real* write-then-read roundtrip through the external
format, so the registry queries exercise the actual sink and scan code
paths (not just an identity map):

- **CSV metrics log** (S6 sink / S7 scan): the reference appends metric
  rows to CSV (``polysemous_words.py:164-178``) and reads the
  disambiguation CSV (``evaluate.py:78-86``). → ``df.write.csv`` +
  ``spark.read.csv`` with an explicit schema (header on, never inferred
  — schema inference is a full extra scan at 100 TB).
- **JSON artifacts** (S5): jsonpickle dict persistence
  (``polysemous_words.py:111-126``) → ``df.write.json`` +
  ``spark.read.json`` with explicit schema.
- **Dictionary text format** (S9): gensim ``Dictionary.load_from_text``
  (``wiki_lda.py:13``) reads ``num_docs`` header + ``id\ttoken\tdocfreq``
  rows. Writer emits the same format; reader parses it back with
  ``from_csv``-style splits. Tab-separated, one shard — the format is
  inherently single-file, so the writer coalesces (documented: at
  100 TB the dictionary is ≤ vocab-cap rows, i.e. tiny).
- **Matrix Market corpus** (S10): ``%%MatrixMarket matrix coordinate
  real general`` + ``rows cols nnz`` header + ``row col value`` triplets
  (``wiki_lda.py:14``). Round-trips a sparse doc×term matrix through the
  text format.
- **Model persistence** (S11): MLlib native ``save``/``load`` for
  CountVectorizer/LDA models (``webisalod_lda.py:48,57``).

Every roundtrip writes into a fresh ``scratch.session_dir``: the
returned DataFrame reads those files lazily, so they live until the
process exits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import session_dir


def csv_roundtrip(df: DataFrame, schema: str) -> DataFrame:
    """S6+S7: write df as headered CSV, read it back with the given
    explicit schema string."""
    target = os.path.join(session_dir("metrics_csv_"), "out")
    df.write.mode("overwrite").option("header", True).csv(target)
    return df.sparkSession.read.option("header", True).schema(schema).csv(target)


def json_roundtrip(df: DataFrame, schema: str) -> DataFrame:
    """S5: write df as JSON lines, read back with explicit schema."""
    target = os.path.join(session_dir("artifact_json_"), "out")
    df.write.mode("overwrite").json(target)
    return df.sparkSession.read.schema(schema).json(target)


def write_dictionary_text(vocab: DataFrame, num_docs: int) -> str:
    """S9 writer: gensim dictionary text format. ``vocab`` must have
    columns (id, token, docfreq)."""
    target = os.path.join(session_dir("dict_txt_"), "wordids")
    spark = vocab.sparkSession
    header = spark.createDataFrame([(f"{num_docs}",)], "value string")
    body = vocab.select(
        F.concat_ws("\t", F.col("id").cast("string"), "token",
                    F.col("docfreq").cast("string")).alias("value")
    )
    # tiny by construction (vocab-capped) → single shard like gensim's
    _write_single_text(header, body, target)
    return target


def _write_single_text(header: DataFrame, body: DataFrame, target: str) -> None:
    """One-shard text write with the header guaranteed first.

    ``repartition(1)`` (a real shuffle) lets the upstream plan run
    parallel and only the final write is single-task — ~2× faster than
    ``coalesce(1)``, which would drag the whole DAG into one thread. The
    shuffle does not preserve row order, so an explicit sort key pins the
    header lines to the top."""
    h = header.withColumn(
        "__ord", F.monotonically_increasing_id().cast("long")
    )
    b = body.withColumn("__ord", F.lit(1 << 60).cast("long"))
    (
        h.unionByName(b)
        .repartition(1)
        .sortWithinPartitions("__ord")
        .select("value")
        .write.mode("overwrite")
        .text(target)
    )


def read_dictionary_text(spark: SparkSession, target: str) -> DataFrame:
    """S9 reader: parse ``id\ttoken\tdocfreq`` rows (skip the num-docs
    header, which has no tab)."""
    lines = spark.read.text(target)
    parts = F.split(F.col("value"), "\t")
    return (
        lines.filter(F.size(parts) == 3)
        .select(
            parts.getItem(0).cast("int").alias("id"),
            parts.getItem(1).alias("token"),
            parts.getItem(2).cast("long").alias("docfreq"),
        )
    )


def write_matrix_market(
    triplets: DataFrame,
    n_rows: int,
    n_cols: int,
    row_col: str = "row_id",
    col_col: str = "col_id",
    val_col: str = "value",
) -> str:
    """S10 writer: Matrix Market coordinate format (1-based indices,
    like gensim's MmWriter)."""
    target = os.path.join(session_dir("mm_corpus_"), "corpus.mm")
    spark = triplets.sparkSession
    triplets = triplets.cache()  # read twice: nnz header + body write
    nnz = triplets.count()
    header = spark.createDataFrame(
        [("%%MatrixMarket matrix coordinate real general",),
         (f"{n_rows} {n_cols} {nnz}",)],
        "value string",
    )
    body = triplets.select(
        F.concat_ws(
            " ",
            (F.col(row_col) + 1).cast("string"),
            (F.col(col_col) + 1).cast("string"),
            F.format_string("%.6f", F.col(val_col).cast("double")),
        ).alias("value")
    )
    _write_single_text(header, body, target)
    triplets.unpersist()
    return target


def read_matrix_market(spark: SparkSession, target: str) -> DataFrame:
    """S10 reader: parse the coordinate triplets back (0-based ids)."""
    lines = spark.read.text(target)
    data = lines.filter(
        ~F.col("value").startswith("%")
    )
    parts = F.split(F.col("value"), " ")
    # the "rows cols nnz" size line also has 3 fields — distinguish by
    # the decimal point the %.6f value field always carries
    return (
        data.filter((F.size(parts) == 3) & F.col("value").contains("."))
        .select(
            (parts.getItem(0).cast("long") - 1).alias("row_id"),
            (parts.getItem(1).cast("long") - 1).alias("col_id"),
            parts.getItem(2).cast("double").alias("value"),
        )
    )


def model_save_load_roundtrip(model, loader_cls):
    """S11: persist an MLlib model and load it back."""
    target = os.path.join(session_dir("mllib_model_"), "model")
    model.write().overwrite().save(target)
    return loader_cls.load(target)
