"""Pluggable lexicon filters (P4 stopwords / P6 spellcheck / P7 English).

The reference loads its lexica from NLTK and pyspellchecker at runtime
(``Read_And_Clean.py:68,171-172`` — ``stopwords.words('english')``,
``SpellChecker().word_frequency``) and filters tokens with Python set
membership. The engine ships an embedded core-English stopword subset
(``functions.text.STOPWORDS``) so the DuckDB oracles stay portable — but
a real deployment wants the *exact* NLTK / spellchecker word list. This
module closes that gap: any single-column DataFrame of words is a
lexicon, so loading NLTK's list into a table gives byte-for-byte
reference token semantics with no engine change.

Two strategies, chosen by lexicon size:

* ``inline`` — collect the lexicon to a sorted literal array and filter
  inside an array HOF. Zero shuffle, zero join, whole-stage codegen;
  right for dim-sized lexica (stopword lists, a few thousand words).
* ``join`` — ``posexplode`` the token arrays, LEFT ANTI / LEFT SEMI
  broadcast-join against the lexicon, reassemble each document's array
  in original order via ``array_sort(collect_list(struct(pos, token)))``.
  The corpus side never shuffles for the join itself (lexicon is
  broadcast); the only shuffle is the per-document regroup. Right for
  unbounded lexica (a full spellchecker vocabulary) that would bloat a
  plan literal.

Both preserve token ORDER and MULTIPLICITY — matching the reference's
list comprehensions, where ``set``-based membership tests filter a list
without deduplicating it.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dispatch

# Above this many words, an inline literal array stops being a sane plan
# node (plan size, task-binary broadcast) and the join strategy wins.
INLINE_LEXICON_MAX = 10_000


def lexicon_from_words(spark: SparkSession, words: Iterable[str]) -> DataFrame:
    """Build a single-column ``[word]`` lexicon DataFrame from literals.

    Convenience for tests / embedded lists; production lexica arrive as
    ``spark.read`` tables and need no conversion — any DataFrame whose
    first column is the word works.
    """
    return spark.createDataFrame(
        [(w,) for w in sorted(set(words))], "word string"
    )


def _words(rows) -> list[str]:
    """Sorted, distinct, non-NULL words from a lexicon's rows."""
    return sorted({r[0] for r in rows if r[0] is not None})


def filter_tokens_inline(
    tokens: Column, lexicon_words: Sequence[str], mode: str = "drop"
) -> Column:
    """HOF token filter against a literal word map (no shuffle).

    ``mode='drop'`` removes lexicon members (stopword semantics, P4);
    ``mode='keep'`` retains only members (spellcheck semantics, P6/P7).

    Membership is a hash-map probe — ``map_contains_key`` against a
    constant-folded literal map — not a linear ``array_contains`` scan,
    so per-token cost is O(1) regardless of lexicon size (the previous
    O(|lexicon|) scan made a 10k-word lexicon ~10000 comparisons per
    token). Null tokens are dropped in both modes, matching the old
    ``array_contains`` null semantics.
    """
    if mode not in ("drop", "keep"):
        raise ValueError(f"mode must be 'drop' or 'keep', got {mode!r}")
    words = sorted(set(lexicon_words))
    if len(words) > INLINE_LEXICON_MAX:
        # enforce, not just advise: an oversized literal map bloats the
        # plan and task binary — direct callers must use the join
        # strategy (filter_tokens_with_lexicon) past this point
        raise ValueError(
            f"filter_tokens_inline: {len(words)} words exceeds "
            f"INLINE_LEXICON_MAX={INLINE_LEXICON_MAX}; use "
            "filter_tokens_with_lexicon(strategy='join')"
        )
    if not words:  # empty literal map has no concrete key type
        # Drop mode still removes NULL tokens (the non-empty path's
        # ``~map_contains_key`` predicate is NULL for them, and the join
        # strategy removes NULL-token positions explicitly).
        return (
            F.filter(tokens, lambda t: t.isNotNull())
            if mode == "drop"
            else F.filter(tokens, lambda t: F.lit(False))
        )
    lex = F.map_from_arrays(
        F.array(*[F.lit(w) for w in words]),
        F.array_repeat(F.lit(True), len(words)),
    )
    if mode == "drop":
        return F.filter(tokens, lambda t: ~F.map_contains_key(lex, t))
    if mode == "keep":
        return F.filter(tokens, lambda t: F.map_contains_key(lex, t))
    raise ValueError(f"mode must be 'drop' or 'keep', got {mode!r}")


def filter_tokens_with_lexicon(
    df: DataFrame,
    tokens_col: str,
    lexicon: DataFrame,
    id_cols: Sequence[str],
    mode: str = "drop",
    out_col: str | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Filter a token-array column against a lexicon DataFrame.

    Returns ``df`` with ``out_col`` (default: ``tokens_col`` replaced)
    holding the filtered array, order and multiplicity preserved.
    ``id_cols`` must uniquely identify rows (needed by the join
    strategy's regroup; the inline strategy ignores them).

    ``strategy='auto'`` reads the lexicon once through
    :func:`operators.dispatch.bounded_collect` (one job) and picks
    ``inline`` when it holds at most :data:`INLINE_LEXICON_MAX` rows,
    ``join`` above.
    """
    if mode not in ("drop", "keep"):
        raise ValueError(f"mode must be 'drop' or 'keep', got {mode!r}")
    out_col = out_col or tokens_col
    word_col = lexicon.columns[0]
    rows = None
    if strategy == "auto":
        rows = dispatch.bounded_collect(
            lexicon.select(word_col), INLINE_LEXICON_MAX
        )
        strategy = "join" if rows is None else "inline"
    elif strategy == "inline":
        rows = lexicon.select(word_col).collect()

    if strategy == "inline":
        return df.withColumn(
            out_col, filter_tokens_inline(F.col(tokens_col), _words(rows), mode)
        )
    if strategy != "join":
        raise ValueError(f"strategy must be auto|inline|join, got {strategy!r}")

    lex = F.broadcast(
        lexicon.select(F.col(word_col).alias("__lex_word")).distinct()
    )
    ids = [F.col(c) for c in id_cols]
    exploded = df.select(
        *ids, F.posexplode(F.col(tokens_col)).alias("__pos", "__tok")
    )
    # Shuffle only the REMOVED positions, never the survivors: in drop
    # mode the removals are the lexicon hits (semi join), in keep mode
    # the lexicon misses (anti join) — the semantically sparse side in
    # both real uses (stopword hits / spellcheck unknowns). The old
    # shape regrouped every SURVIVING (id, pos, token) row through a
    # collect_list shuffle — O(corpus tokens); this one shuffles
    # (id, pos) pairs for the removals only, and the original array is
    # filtered in place by position (order and multiplicity free).
    if mode == "drop":
        # NULL tokens never match the semi-join condition, but the
        # inline strategy's predicate is NULL for them (filter drops) —
        # add their positions to the removed set explicitly so both
        # strategies drop NULL tokens in BOTH modes.
        removed = exploded.join(
            lex, exploded["__tok"] == F.col("__lex_word"), "left_semi"
        ).unionByName(exploded.filter(F.col("__tok").isNull()))
    else:
        # anti join already counts NULL tokens as non-members → removed
        removed = exploded.join(
            lex, exploded["__tok"] == F.col("__lex_word"), "left_anti"
        )
    # Removed positions land in a map<pos,bool> so the per-token probe is
    # an O(1) hash lookup; in drop mode against a stopword lexicon the
    # removals are dense (30-40% of tokens), and the previous
    # array_contains probe cost O(n_tokens x n_removed) per document —
    # quadratic in document length for long documents.
    pos_agg = removed.groupBy(*id_cols).agg(
        F.map_from_entries(
            F.transform(
                F.collect_list("__pos"),
                lambda p: F.struct(p.alias("key"), F.lit(True).alias("value")),
            )
        ).alias("__rm")
    )
    out = df.join(pos_agg, list(id_cols), "left").withColumn(
        out_col,
        F.when(
            F.col(tokens_col).isNotNull(),
            F.filter(
                F.col(tokens_col),
                lambda t, i: F.when(
                    F.col("__rm").isNotNull(),
                    ~F.map_contains_key(F.col("__rm"), i),
                ).otherwise(F.lit(True)),
            ),
        ),
    )
    return out.drop("__rm")
