"""Tokenizers: DataFrame-returning transforms producing
``tokens(id, len, token)``.

Semantics-parity port of the reference's SQL-template tokenizers
(``py_duckdb/similarity_join/tokenizers/__init__.py:1-49``), built
entirely from Spark higher-order array functions — zero UDFs, fully
JVM-side / whole-stage-codegen-friendly (SURVEY.md §2.3).

Parity notes (must-preserve hazards, SURVEY.md §4.3):
- ``len`` is computed on the token *list* BEFORE explode
  (reference ``tokenizers/__init__.py:15``): set cardinality with
  ``return_set=True``, bag size otherwise.
- ``return_set=False`` strips only the dedup step (reference
  ``Tokenizer.__init__`` replaces ``list_distinct`` with nothing).
- DelimiterTokzr dedups BEFORE lowercasing (case-sensitive distinct,
  then ``lower`` at unnest — so "Whisk whisk" yields len=2 and two
  identical lowercase token rows). QGramsTokzr lowercases *inside*
  gram generation, so its dedup is case-insensitive. Both quirks are
  reproduced exactly.
- Records whose token list is empty disappear (unnest/explode of an
  empty list yields no rows) — identical in both engines.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["Tokenizer", "QGramsTokzr", "DelimiterTokzr", "WhitespaceTokzr", "WordsTokzr"]


def _ensure_parallelism(df: DataFrame, key: str | None = None) -> DataFrame:
    """Tokenization is compute-heavy per input row; a small parquet
    table arrives as 1-2 scan partitions (one row group), serializing
    the whole pipeline on one core. Repartition to the cluster's
    parallelism when the scan is narrower than that — a no-op (and
    skipped) at real scale where scans already carry thousands of
    partitions.

    With a ``key`` (the tokenizers' record key) the repartition hashes
    on it, so every row of a record lands in one partition: the
    tokenizer's own per-record aggregate (the q-gram ``collect_set``)
    and a per-document window over a map-side join (the bitset path's
    ``pos`` window) need no shuffle of their own. Without one it is
    round-robin."""
    if df.isStreaming:
        return df  # micro-batch engine owns partitioning
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Read the width off the optimized logical plan instead of
    # df.rdd.getNumPartitions(): the RDD conversion forces a full
    # physical-plan translation per tokenize call (and would throw on
    # streaming inputs). A scan's file count bounds its partition
    # count, so sampling via the plan-free heuristic below is enough:
    # only tiny inputs (fewer leaf files/partitions than cores) need
    # the repartition, and for those the repartition is cheap anyway.
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < target:
        return df.repartition(target, key) if key else df.repartition(target)
    # Unknown width (no file scan underneath: in-memory or derived
    # input) — leave untouched; local createDataFrame already slices
    # to defaultParallelism and post-shuffle DFs carry
    # spark.sql.shuffle.partitions partitions.
    return df


class Tokenizer(ABC):
    """Base: configurable set/bag semantics (reference
    ``tokenizers/__init__.py:1-8``).

    ``distinct_rows`` (optional assertion): declare that tokenize()
    output rows ``(id, token)`` are unique per record. Joins use a
    compiled array-intersect verification when this holds — exact and
    much faster than the generic row-join. QGramsTokzr in set mode
    guarantees it structurally (grams are lowercased *before* dedup);
    DelimiterTokzr cannot (the reference dedups case-sensitively and
    lowercases after — "John john" yields two identical lowercase
    rows), so it defaults to the generic path unless the caller
    asserts their data is case-duplicate-free.
    """

    def __init__(self, return_set: bool = True, distinct_rows: bool | None = None):
        self.return_set = return_set
        self.distinct_rows = distinct_rows

    @property
    def rows_distinct(self) -> bool:
        """True iff (id, token) output rows are guaranteed unique."""
        if self.distinct_rows is not None:
            return bool(self.distinct_rows)
        return self._rows_distinct_default()

    def _rows_distinct_default(self) -> bool:
        return False

    @abstractmethod
    def _token_list(self, val: Column) -> Column:
        """Pre-dedup token list for one value (array<string>)."""

    def tokenize(self, df: DataFrame, key: str, val: str) -> DataFrame:
        """``(df, key, val) -> tokens(id, len, token)``.

        Lowercasing at explode mirrors the reference's
        ``lower(unnest(tks))`` (``tokenizers/__init__.py:15``).
        """
        df = _ensure_parallelism(df, key)
        tks = self._token_list(F.col(val).cast("string"))
        if self.return_set:
            tks = F.array_distinct(tks)
        return (
            df.select(F.col(key).alias("id"), tks.alias("tks"))
            .select(
                "id",
                F.size("tks").alias("len"),
                F.explode("tks").alias("tk"),
            )
            .select("id", "len", F.lower("tk").alias("token"))
        )


class QGramsTokzr(Tokenizer):
    """Padded character q-grams (reference
    ``tokenizers/__init__.py:11-26``): lowercase, pad both ends with
    ``'#' * (q-1)``, emit all q-length substrings at positions
    ``1 .. len(val)+q-1``."""

    def __init__(self, q: int, return_set: bool = True, distinct_rows: bool | None = None):
        super().__init__(return_set, distinct_rows)
        if q < 1:
            raise ValueError("q must be >= 1")
        self.q = q

    def _rows_distinct_default(self) -> bool:
        # Grams are lowercased before dedup, so set-mode rows are
        # structurally unique per record.
        return self.return_set

    def _token_list(self, val: Column) -> Column:
        q = self.q
        pad = F.lit("#" * (q - 1))
        padded = F.concat(pad, F.lower(val), pad)
        n = F.length(val) + (q - 1)
        return F.transform(
            F.sequence(F.lit(1), n),
            lambda x: padded.substr(x, F.lit(q)),
        )

    def tokenize(self, df: DataFrame, key: str, val: str) -> DataFrame:
        """Codegen-friendly q-gram pipeline, row-identical to the base
        implementation (same padded string, positions, dedup, and
        pre-explode ``len``).

        The base path builds the gram *array* with
        ``transform(sequence(...))`` — higher-order functions are
        interpreted (no whole-stage codegen) and the array expression
        is re-evaluated by Catalyst's pushed-down null/size filters,
        measured ~50× slower than this shape. Here positions are
        exploded first and each gram is one compiled ``substr``; set
        semantics come from a ``collect_set`` grouped by ``id`` and
        ``len`` (the distinct-gram count, reference ``tokenizers:15``)
        from its size.
        """
        df = _ensure_parallelism(df, key)
        q = self.q
        v = F.col(val).cast("string")
        pad = F.lit("#" * (q - 1))
        padded = F.concat(pad, F.lower(v), pad)
        n = F.length(v) + (q - 1)
        bag = (
            df.select(F.col(key).alias("id"), padded.alias("_p"), n.alias("_n"))
            .select(
                "id", "_p", "_n",
                F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("_x"),
            )
            .select(
                "id",
                F.col("_n").alias("len"),
                F.col("_p").substr(F.col("_x"), F.lit(q)).alias("token"),
            )
        )
        if not self.return_set:
            return bag
        # Set semantics in ONE exchange: collect_set aggregates to
        # hash(id) directly (map-side partial dedup included), then
        # len = array size and tokens re-explode — versus the previous
        # distinct (exchange on (id, token)) + count window (second
        # exchange on id). A narrow scan's key-hashed repartition is
        # that exchange already, so the aggregate adds none. Gram sets
        # are bounded by the padded text length, so per-id state stays
        # small at any corpus scale.
        sets = bag.groupBy("id").agg(F.collect_set("token").alias("tks"))
        return sets.select(
            "id",
            F.size("tks").cast("int").alias("len"),
            F.explode("tks").alias("token"),
        )


class DelimiterTokzr(Tokenizer):
    """Regex-class split on a separator set, dropping blank /
    whitespace-only tokens (reference ``tokenizers/__init__.py:29-43``).

    The separator set is interpolated verbatim into a ``[...]`` regex
    character class, exactly as the reference does (no escaping).
    """

    def __init__(
        self,
        separators: Iterable[str],
        return_set: bool = True,
        distinct_rows: bool | None = None,
    ):
        super().__init__(return_set, distinct_rows)
        self.pattern = "[%s]" % "".join(sorted(set(separators)))

    def _token_list(self, val: Column) -> Column:
        return F.filter(
            F.split(val, self.pattern, -1),
            lambda x: F.trim(x) != F.lit(""),
        )


class WhitespaceTokzr(DelimiterTokzr):
    """Whitespace separators (reference ``tokenizers/__init__.py:46-49``)."""

    def __init__(self, return_set: bool = True, distinct_rows: bool | None = None):
        super().__init__({" ", "\t", "\r", "\n"}, return_set, distinct_rows)


class WordsTokzr(DelimiterTokzr):
    """Historical reference API (``test.ipynb`` cells 27, 162:
    ``WordsTokzr("'\\|'")``): split on a caller-supplied regex
    PATTERN, not a character class built from a separator set. The
    class was dropped from the current reference package (SURVEY.md
    §2.3 T5); semantics are reconstructed from its call sites as the
    regex generalization of :class:`DelimiterTokzr` (same drop-blank
    filter, same dedup-before-lowercase pipeline), which is what the
    packaged DelimiterTokzr evolved from. The historical argument
    carried its SQL quoting (``"'\\|'"``); surrounding single quotes
    are stripped for convenience."""

    def __init__(
        self,
        pattern: str,
        return_set: bool = True,
        distinct_rows: bool | None = None,
    ):
        Tokenizer.__init__(self, return_set, distinct_rows)
        if len(pattern) >= 2 and pattern[0] == pattern[-1] == "'":
            pattern = pattern[1:-1]
        self.pattern = pattern
