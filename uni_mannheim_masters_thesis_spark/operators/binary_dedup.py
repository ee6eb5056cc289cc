"""Byte-level fuzzy dedup for opaque binary payloads (SURVEY §2.11
extended dedup family — generalizes the exact text dedup of reference
``supervised_classifier.py:174-175`` to multimodal payloads).

The standard fuzzy-file-dedup shape, from Spark-shipped parts only:

1. **Content-defined chunking** — a payload splits at positions where
   a rolling-window hash satisfies a divisor condition. A near-dup
   (bytes inserted/deleted/replaced somewhere) re-synchronizes at the
   first unmodified window after the edit, so most chunk digests are
   shared — the property fixed-width blocking lacks (one inserted byte
   shifts every later block).

   The boundary rule here is STATELESS: position ``i`` ends a chunk
   iff ``int(payload[i-w+1 .. i]) % divisor == 0`` — the window bytes
   read big-endian as one integer (w <= 7 keeps it under 2^56, exact
   in both engines' signed 64-bit arithmetic), tested against a PRIME
   divisor. A prime makes the test order-sensitive: 256^k mod 19
   cycles through distinct residues, so every byte position carries a
   distinct weight (divisor 16 would read only the last byte's low
   nibble; divisor 17 would reduce to an order-blind byte sum, since
   256 = 15*17 + 1). This replaced an md5-per-position rule — one
   digest + 32-char hex per byte of corpus — with integer arithmetic
   at identical dedup semantics; the hex+conv window read is the
   cheapest byte→int path available to a pure Column expression.
   Unlike gear/FastCDC (whose min/max chunk clamps make each boundary
   depend on the previous one — an inherently sequential fold), every
   boundary is decidable from ``w`` local bytes alone, which keeps the
   kernel a pure per-row Column expression (no UDF, no Python) AND
   makes it exactly replayable by a relational oracle.
   Content-locality — the dedup property that matters — is identical.

2. **MinHash over the chunk-digest set** — the per-payload digest set
   feeds the same md5-permutation MinHash + banded-bucket candidate
   join + exact-Jaccard verify as the text near-dup path
   (``operators.dedup.minhash_banded_pairs``); only (band, band-hash,
   id) tuples shuffle for candidate generation, and chunk-digest
   ARRAYS (16-byte fingerprints — never payload bytes) shuffle only
   for the surviving candidates.

At 100 TB: chunking is row-local at scan speed; payload bytes never
leave their partition. The shuffle volume is bands (3 small columns)
plus fingerprint arrays for the candidate subset — the same
banded-candidate discipline as every other dedup operator here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dispatch import spread

CDC_WINDOW = 6     # rolling-window width in bytes (<= 7: the window
                   # must read as an exact signed-64-bit integer)
CDC_DIVISOR = 19   # boundary iff window-int % divisor == 0. PRIME so
                   # the test weighs every byte (256^k mod 19 cycles
                   # through 9 distinct residues); ~19B chunks on
                   # random bytes, real payloads land near that too


def cdc_boundary_positions(
    payload: Column, window: int = CDC_WINDOW, divisor: int = CDC_DIVISOR
) -> Column:
    """Array of chunk END positions (1-based, ascending) for a BINARY
    payload — pure Column expression, no UDF.

    Position ``i`` (from ``window`` to ``len``) is a boundary iff the
    window bytes ``payload[i-window+1 .. i]``, read big-endian as one
    integer (``hex`` + ``conv`` — exact for ``window <= 7``), are
    divisible by ``divisor``. Payloads shorter than ``window`` have no
    boundaries (one whole-payload chunk). The oracle twin parses the
    same hex literal (``('0x' || hex(window))::BIGINT``), so boundary
    decisions are bit-identical across engines."""
    if window > 7:
        raise ValueError(
            f"window must be <= 7 bytes (signed-64-bit exact), got {window}"
        )
    n = F.length(payload)
    positions = F.when(
        n >= window, F.sequence(F.lit(window), n)
    ).otherwise(F.expr("CAST(array() AS array<int>)"))

    def is_boundary(i: Column) -> Column:
        win = payload.substr(i - F.lit(window - 1), F.lit(window))
        h = F.conv(F.hex(win), 16, 10).cast("long")
        return h % divisor == 0

    return F.filter(positions, is_boundary)


def cdc_chunk_digests(
    payload: Column, window: int = CDC_WINDOW, divisor: int = CDC_DIVISOR
) -> Column:
    """Array of md5 digests of the content-defined chunks of
    ``payload`` (the payload's fingerprint set — 16 bytes per chunk,
    order preserved). Row-local; the payload itself never needs to
    move after this projection."""
    n = F.length(payload)
    bpos = cdc_boundary_positions(payload, window, divisor)
    # chunk ends: every boundary, plus the payload end (unless the
    # last boundary already is the end)
    ends = F.when(
        (F.size(bpos) > 0) & (F.element_at(bpos, -1) == n), bpos
    ).otherwise(F.concat(bpos, F.array(n)))
    # chunk starts: 1, then each previous end + 1
    starts = F.concat(
        F.array(F.lit(1)),
        F.transform(
            F.slice(ends, F.lit(1), F.size(ends) - 1), lambda e: e + 1
        ),
    )
    return F.zip_with(
        starts, ends, lambda s, e: F.md5(payload.substr(s, e - s + 1))
    )


def binary_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate payload pairs by exact chunk-set Jaccard, with
    MinHash-banded candidate generation. Returns
    DataFrame[id_a, id_b, n_chunks_a, n_chunks_b, jaccard_dist]
    (id_a < id_b, jaccard_dist ≤ threshold, distinct-chunk counts)."""
    from .dedup import minhash_banded_pairs

    # the test-scale documents table is ONE parquet file = one input
    # partition, which would serialize the (CPU-bound, row-local)
    # chunking; spread it across the cluster first. At 100 TB the scan
    # already yields a partition per ~128 MB split and this exchange
    # moves one batch per core — noise next to the scan itself.
    df = spread(df, id_col)
    chunks = (
        # empty payloads drop BEFORE chunking on the cheap length
        # predicate (pushable to the scan); a non-empty payload always
        # yields ≥ 1 chunk, so no post-chunking filter is needed — a
        # filter on the chunk array would push the whole CDC expression
        # below the repartition and re-evaluate it serially
        df.filter(F.length(payload_col) > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            cdc_chunk_digests(F.col(payload_col), window, divisor).alias(
                "chunks"
            ),
        )
        # materialize the fingerprint sets ONCE: without this, Spark's
        # projection collapse inlines the whole per-byte CDC expression
        # into each of the 8 signature branches AND the sizes join —
        # ~10x duplicated scan work. The checkpointed relation is
        # (id, 16B-digest array) — tiny next to the payloads, and the
        # exact relation a production run would persist as the
        # payload-fingerprint table.
        .localCheckpoint(eager=True)
    )
    pairs = minhash_banded_pairs(
        chunks, id_col="doc_id", tokens_col="chunks", threshold=threshold
    )
    sizes = chunks.select(
        F.col("doc_id"),
        F.size(F.array_distinct("chunks")).alias("n_chunks"),
    )
    return (
        pairs.join(
            sizes.select(
                F.col("doc_id").alias("id_a"),
                F.col("n_chunks").alias("n_chunks_a"),
            ),
            "id_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("id_b"),
                F.col("n_chunks").alias("n_chunks_b"),
            ),
            "id_b",
        )
        .select("id_a", "id_b", "n_chunks_a", "n_chunks_b", "jaccard_dist")
    )


def cdc_chunks_with_len(
    payload: Column, window: int = CDC_WINDOW, divisor: int = CDC_DIVISOR
) -> Column:
    """Array of (digest, byte-length) structs for the content-defined
    chunks — the unit of chunk-store accounting: identical digests are
    stored once, so the dedup saving is total bytes minus the byte sum
    over DISTINCT digests."""
    n = F.length(payload)
    bpos = cdc_boundary_positions(payload, window, divisor)
    ends = F.when(
        (F.size(bpos) > 0) & (F.element_at(bpos, -1) == n), bpos
    ).otherwise(F.concat(bpos, F.array(n)))
    starts = F.concat(
        F.array(F.lit(1)),
        F.transform(
            F.slice(ends, F.lit(1), F.size(ends) - 1), lambda e: e + 1
        ),
    )
    return F.zip_with(
        starts,
        ends,
        lambda s, e: F.struct(
            F.md5(payload.substr(s, e - s + 1)).alias("d"),
            (e - s + 1).alias("l"),
        ),
    )
