"""Jaccard set-similarity join — Spark-native implementation.

Re-expresses the reference's prefix-filtered join pipeline
(``py_duckdb/similarity_join/join/jaccard_join.py``) as a lazy
DataFrame chain: tokenize → document frequency → per-document sorted
token arrays → candidate join (length + prefix + positional filters)
→ suffix verification. The brute-force variant (the correctness oracle) is
explode → equi-join → groupBy → threshold filter.

Math (SURVEY.md §0): for token sets x, y and threshold t,
``J(x,y) >= t  <=>  |x∩y| >= (|x|+|y|) * t / (1+t)``.

Parity hazards preserved (SURVEY.md §4.3):
- Threshold comparisons reproduce the reference's DuckDB-DECIMAL tie
  behavior exactly via integer cross-multiplication (see the
  "threshold bounds" section below) — the reference deliberately
  avoids ``ceil`` (``test.ipynb`` cell 23) and its un-ceiled bounds
  evaluate exactly because DuckDB parses the interpolated threshold
  literal as DECIMAL, not double.
- Self-join pair dedup uses the synthetic key
  ``l_id = concat(len, '_', id)`` compared lexicographically
  (``jaccard_join.py:135,155``) — including its string-compare quirk.
- ``pos`` ranks tokens by ``(df, token)`` ascending per record
  (``jaccard_join.py:134``) — here the integer tids that
  :func:`_doc_freq` gives every token in that order are sorted into
  one array per record, and ``pos`` is a tid's index in it plus one;
  the array and three-way verifies count suffix matches from ``pos >=
  maxPos`` and add ``pfxOverlap - 1``
  (``jaccard_join.py:172-183``); the bitset path counts ``|x∩y|``
  outright in the candidate join, which equals that sum under set
  semantics (see :func:`_jaccard_score`).
- Output is a pair table only — no similarity column
  (``jaccard_join.py:174-175``). See :mod:`..operators.dedup` for
  scored variants beyond the reference surface.

Scale design (100 TB target):
- All stages are shuffles on high-cardinality keys (token, id) —
  no driver-side materialization of row data; only the inner join's
  side-selection reads scalar counts (as the reference does).
- The self and inner joins share one candidate generator, written once
  per stage: :func:`_doc_freq` (df per token; the inner join's
  cross-table ``l_df * r_df`` with a widow placeholder; the ``tid``
  rank; the duplicate-row count), :func:`_docs` (tokens ⋈ df grouped
  into one row per document: sorted tids, bitset words, pair key; the
  hot-token split off the bitset path), :func:`_candidates` (prefix
  token rows exploded from it, prefix filters, token equi-join) and
  :func:`_verify`. The self join runs them with its one token frame on
  both sides; each join keeps only its pair predicate, and the inner
  join its side swap.
- The inner join runs every stage once, over ONE side-tagged token
  frame ``(side, key, len, token)`` (the R-S join of Vernica, Carey
  and Li, SIGMOD 2010, tags records by relation the same way): one
  df aggregate with per-side counts, one ``docs`` frame grouped by
  ``(side, key)``, one widow-count job for the side swap; the
  candidate join and the verify read its ``side == i`` views. Each
  side's key keeps its own column when the two key types differ, so
  no cast joins them.
- One integer token dictionary serves every path: ``tid`` order is
  ``(df, token)`` order, so from ``docs`` on — the prefixes, the
  candidate equi-join and both verifies — tokens are integers, and the
  array verify intersects integer arrays (Spark's primitive hash set;
  string arrays take a boxed one). A vocabulary of at most
  ``_RANK_ROWS`` tokens ranks in one unpartitioned window (dense int
  tids, which the bitset path reads as bit numbers); a larger one
  ranks per bucket of sampled ``(df, token)`` split points into bigint
  tids, so no window sorts the whole vocabulary on one partition.
- Token frames, the doc-frequency dim and ``docs`` are persisted
  (MEMORY_AND_DISK). ``docs`` holds each document once: the candidate
  join explodes it on both sides (``posexplode``, sliced to the prefix
  bound), the array verify attaches it as it is and the three-way
  verify explodes it whole, so no stage windows or re-aggregates token
  rows. Every plan decision (bitset vocabulary, hot-token split, verify
  strategy) reads its scalars from ONE eager aggregate over the
  persisted dim, and the inner join's side swap from one more, its
  widow counts (:func:`_widow_counts`), after which the inner join
  frees its token frame and dim. A self join runs one Spark action
  before its final query, an inner join two (plus the tid sample of a
  vocabulary above ``_RANK_ROWS``): each action costs a fixed
  scheduling round-trip, which at small sizes outweighs its rows.
- When the vocabulary fits ``_MAX_BITSET_VOCAB`` tokens, the candidate
  join verifies each pair on the popcount of its documents' bitsets
  and emits it once, with no verify stage. Otherwise verification is
  a compiled intersect of the suffix-sliced token arrays when the
  ``(id, token)`` rows are distinct, and the reference's pairs ×
  tokens three-way join when not. The bitset words, the literal tid
  dim, the overlap column and the side-prefixed attach form the
  set-overlap kernel (:func:`_tid_dim`, :func:`_bit_words`,
  :func:`_set_overlap`, :func:`_attach`) that the verifiers of
  :mod:`.dedup` and :mod:`..streaming` share.
- Single-side conjuncts of the candidate join (prefix filters) are
  applied as pre-join filters, shrinking shuffle input; the hot-token
  skew inherent to token equi-joins is handled by AQE skew-join
  splitting (enabled in :mod:`..session`).
- The doc-frequency join (tokens ⋈ df-per-token) carries no hint: AQE
  broadcasts whichever side its run-time size shows small. The verify's
  attach tables are broadcast when the join's token rows, already known
  from the df statistics, fit ``_MAX_BROADCAST_VERIFY_TOKENS``, and
  left to AQE above it; at 100 TB the df table and the per-document
  attach tables are themselves large and the shuffle joins are the
  right plan.
"""

from __future__ import annotations

import functools
import operator
import re
from decimal import Decimal
from fractions import Fraction
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from ..tokenizers import Tokenizer

__all__ = [
    "jaccard_join",
    "jaccard_join_brute_force",
    "jaccard_self_join",
    "jaccard_inner_join",
    "jaccard_self_join_brute_force",
    "jaccard_inner_join_brute_force",
    "tokens_with_doc_freq",
]


# --------------------------------------------------------------------------
# threshold bounds — tie-exact reproductions of the reference SQL
# --------------------------------------------------------------------------
#
# The reference interpolates the Python threshold into SQL text
# (f"{self._t}", jaccard_join.py:160 etc.), where DuckDB parses the
# bare literal as DECIMAL — so "0.2" means exactly 2/10 and every
# multiplication/addition of it is exact. Crucially, the division by
# (1+t) is NOT exact: DuckDB converts EACH decimal operand to DOUBLE
# first, then divides. At an exact integer tie the quotient can land
# one ulp off in either direction — e.g. (83+85)*0.2/(1+0.2):
# numerator 33.6 (exact decimal) -> double 33.600000000000001421,
# denominator 1.2 -> double 1.1999999999999999556, quotient
# 28.000000000000004 — so DuckDB REJECTS overlap 28 even though the
# exact bound is exactly 28 (db10 5-gram t=0.2, 46 tie pairs; see
# tests/test_property_fuzz.py::test_division_tie_parity). Conversely
# 3*2*0.2/1.2 = 1.2/1.2 = exactly 1.0 at double, accepting the tie a
# naive chained-double 6*0.2 = 1.2000000000000002 would reject
# (tests/test_property_fuzz.py::test_decimal_tie_parity_inner).
#
# MULTIPLY-ONLY bounds (``X >= len*t``): the decimal product is exact
# and the integer-vs-decimal comparison is exact, so we evaluate them
# in exact integer arithmetic by cross-multiplying with the
# threshold's decimal denominator (t = num/den via Fraction(repr(t))):
# ``X*den >= len*num``.
#
# DIVISION-BEARING bounds (``X >= s*t/(1+t)``): emulated
# operand-for-operand — exact DECIMAL product, cast to double
# (correctly rounded on both engines: Spark's BigDecimal.doubleValue
# and DuckDB's mantissa/10^scale double division), divided by the
# double nearest to the exact decimal (1+t). Equality with DuckDB is
# pinned over a (threshold x size) grid in
# tests/test_property_fuzz.py::test_division_tie_parity.
#
# Thresholds whose repr is not a plain decimal literal (scientific
# notation, or denominator > 1e5) fall back to the chained-double
# form — and the oracle SQL emits CAST AS DOUBLE for them, which
# makes DuckDB's arithmetic the same chained-double evaluation
# (plans/ref_sql.py keeps its gate in lockstep).

_MAX_EXACT_DEN = 100_000


def _t_fraction(t: float) -> Fraction | None:
    """The threshold as the exact rational DuckDB sees, or None when
    its decimal expansion is too wide for 64-bit cross-multiplied
    comparisons (or not a plain decimal literal — DuckDB would parse
    scientific notation as DOUBLE, not DECIMAL)."""
    if _t_decimal(t) is None:
        return None
    try:
        fr = Fraction(repr(float(t)))
    except (ValueError, OverflowError):  # pragma: no cover
        return None
    return fr if 0 < fr.denominator <= _MAX_EXACT_DEN else None


def _t_decimal(t: float) -> Decimal | None:
    """``repr(t)`` as the exact Decimal DuckDB's parser produces for a
    plain ``digits.digits`` literal; None when the repr is scientific
    notation (parsed as DOUBLE by DuckDB) or too wide for the
    cross-multiplied comparisons to stay in 64-bit range."""
    r = repr(float(t))
    if not re.fullmatch(r"\d+(\.\d+)?", r):
        return None
    try:
        if not 0 < Fraction(r).denominator <= _MAX_EXACT_DEN:
            return None
    except (ValueError, OverflowError):  # pragma: no cover
        return None
    return Decimal(r)


def _div_bound(sum_col: Column, t: float) -> Column:
    """``(sum * t) / (1 + t)`` exactly as DuckDB evaluates the
    oracle's bare-decimal threshold: exact DECIMAL product, cast to
    double, divided by the double nearest to the exact decimal
    ``1 + t`` (see the "threshold bounds" block above)."""
    dec = _t_decimal(t)
    if dec is None:
        return sum_col * F.lit(float(t)) / F.lit(1.0 + float(t))
    scale = max(0, -dec.as_tuple().exponent)
    prec = max(len(dec.as_tuple().digits), scale + 1)
    t_lit = F.expr(f"CAST({dec} AS DECIMAL({prec},{max(scale, 1)}))")
    return (sum_col * t_lit).cast("double") / F.lit(float(Decimal(1) + dec))


def _overlap_cond(lhs: Column, l_len: Column, r_len: Column, t: float) -> Column:
    """``lhs >= ((L.len + R.len) * t / (1+t))`` — jaccard_join.py:183,
    division-tie-faithful."""
    return lhs >= _div_bound(l_len + r_len, t)


def _length_cond(big_len: Column, small_len: Column, t: float) -> Column:
    """``big.len >= (small.len * t)`` — jaccard_join.py:158, tie-exact."""
    fr = _t_fraction(t)
    if fr is None:
        return big_len >= small_len * F.lit(float(t))
    return big_len * F.lit(fr.denominator) >= small_len * F.lit(fr.numerator)


def _indexing_prefix_cond(length: Column, pos: Column, t: float) -> Column:
    """``len - pos + 1 >= (len * 2 * t / (1+t))`` — jaccard_join.py:160,
    division-tie-faithful."""
    return length - pos + 1 >= _div_bound(length * 2, t)


def _probing_prefix_cond(length: Column, pos: Column, t: float) -> Column:
    """``len - pos + 1 >= (len * t)`` — jaccard_join.py:161, tie-exact."""
    fr = _t_fraction(t)
    if fr is None:
        return length - pos + 1 >= length * F.lit(float(t))
    return (length - pos + 1) * F.lit(fr.denominator) >= length * F.lit(
        fr.numerator
    )


def _positional_cond(
    l_len: Column, l_pos: Column, r_len: Column, r_pos: Column, t: float
) -> Column:
    """``LEAST(L.len-L.pos+1, R.len-R.pos+1) >= (L.len+R.len)*t/(1+t)``
    — jaccard_join.py:163-164, tie-exact.

    A consequence the verification paths rely on (round 11): any
    remaining-suffix pre-filter of the shape ``pfxoverlap - 1 +
    least(l_len - lmaxpos + 1, r_len - rmaxpos + 1) >= B`` is VACUOUS
    after this condition, because it is the SAME ``_overlap_cond``
    with the SAME bound ``B = (l_len + r_len)·t/(1+t)`` (identical
    expression, so identical float value): the prefix match attaining
    ``lmaxpos`` passed ``least(l_len - lmaxpos + 1, ·) >= B``, hence
    ``l_len - lmaxpos + 1 >= B``; symmetrically ``r_len - rmaxpos + 1
    >= B`` from the match attaining ``rmaxpos``; with ``pfxoverlap >=
    1`` the pre-filter's LHS is ``>= B`` for EVERY candidate.
    Measured confirmation: at db100 ws t=0.5 the pre-filter kept all
    2,976,581 of 2,976,581 candidates.
    """
    return _overlap_cond(
        F.least(l_len - l_pos + 1, r_len - r_pos + 1), l_len, r_len, t
    )


# --------------------------------------------------------------------------
# shared stages
# --------------------------------------------------------------------------

# Automatic heavy-hitter split engagement (round 10, VERDICT r9 #4).
# The decision scalars come from one aggregate over the (persisted)
# doc-frequency table: N = total token rows, max_df = the hottest
# token's row count. One shuffle partition of the tokens ⋈ dfreq join
# averages N/P rows (P = spark.sql.shuffle.partitions); a token whose
# df is many multiples of that average turns its partition into a
# straggler AQE structurally cannot split (see _docs).
# Engage when the hottest token is >= FACTOR × the average partition
# AND >= an absolute row floor (below it even a fully-skewed partition
# is fast and the extra anti-join plan is pure overhead). Note the
# factor test is scale-correct by construction: at local P=32 a
# stopword is a small multiple of the huge partitions and the split
# stays off; at cluster P=10⁴⁺ the same stopword dwarfs the average
# partition and the split engages — exactly when the straggler exists.
_HOT_SPLIT_MIN_DF = 50_000
_HOT_SPLIT_SKEW_FACTOR = 8
# Floor for the chosen threshold itself: hot set size <= N/threshold,
# so thr = max(2 × avg-partition-rows, floor) bounds the broadcast at
# ~P/2 dfreq rows (trivial at any P).
_HOT_SPLIT_MIN_THR = 1_000


def _auto_hot_threshold(n_rows: int, max_df: int, n_partitions: int) -> int | None:
    """Threshold for the heavy-hitter broadcast split, or None to
    leave the plain shuffle join (no skew worth mitigating). Capped at
    max_df so an engaged split always has a non-empty hot set."""
    if max_df < _HOT_SPLIT_MIN_DF:
        return None
    avg = n_rows / max(n_partitions, 1)
    if max_df < _HOT_SPLIT_SKEW_FACTOR * avg:
        return None
    return int(min(max(2 * avg, _HOT_SPLIT_MIN_THR), max_df))


def _shuffle_partitions(df: DataFrame) -> int:
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return 200  # "auto" (AQE-managed) or unset: Spark's default


# Bitset verification is used when the token vocabulary fits in this
# many distinct tokens (64 longs on every document row). Q-gram and
# small-alphabet corpora qualify; unbounded word vocabularies fall back
# to the array-intersect path. 64 words = 512 B/row of fixed columns — still
# far below the per-pair cost of array_intersect on multi-hundred-token
# arrays (measured with the full-popcount verify on a 4-core host: the
# 5-gram self join at sf0.1, t=0.8, took 12.5–14.1 s on bitsets vs
# 61–69 s with the cap forced to 0, three warm runs each). The bit of a
# token is its tid, so the path needs the dense tids 1..V that only a
# vocabulary of at most _RANK_ROWS tokens gets (see _tid_rank).
_MAX_BITSET_VOCAB = 4096

# Most vocabulary rows the tid rank sorts in one window partition. A
# vocabulary this small ranks in ONE unpartitioned window: dense tids
# 1..V, no sample, no offset job. A larger one ranks per bucket of
# (df, token) order, the buckets cut at points sampled to hold about
# _RANK_ROWS / 4 rows each (see _tid_rank).
_RANK_ROWS = 1 << 20
# Expected sampled rows per bucket: a bucket's share of the vocabulary
# then strays about 1/8 from its target, far inside the 4x headroom.
_RANK_SAMPLE_PER_BUCKET = 64

# Token rows (both sides) up to which the verify broadcasts its two
# attach tables, each of which holds at most that many tids. Unhinted,
# AQE shuffles and sorts the candidate stream into the attach joins
# once a table outgrows its broadcast threshold (10 MB by default):
# 21% slower at the refscale db100 whitespace t=0.4 self join, whose
# per-document arrays hold about 1.5M tids, 14% at db50 t=0.3
# (BENCHMARKS.md).
_MAX_BROADCAST_VERIFY_TOKENS = 2_000_000

# Widow placeholder (jaccard_join.py:266-268): the inner join's df of a
# token only one side has. The reference uses count(l)*count(r)+1 — two
# full-table scans whose only role is a df value that sorts AFTER every
# real product in the (df, token) pos ordering. Any constant strictly
# above all real products yields the bit-identical ordering (widows tie
# with each other either way and fall to the token tiebreak; real
# products are <= count(l)*count(r) < 2^63-1 anywhere long arithmetic
# holds), so the two driver-side count jobs are dropped. The widow
# counts for the side swap are decision-bearing and stay
# (_widow_counts).
_WIDOW_DF = (1 << 63) - 1


class _DocFreq(NamedTuple):
    """The doc-frequency stage's output (see :func:`_doc_freq`)."""

    dim: DataFrame  # (token, df[, l_df, r_df], tid): ``cache`` ranked
    cache: DataFrame  # the persisted aggregate under ``dim``
    side_dfs: tuple[str, ...]  # each side's own df column in ``dim``
    vocab: int
    n_tok: int  # token rows, both sides
    max_df: int  # largest per-side df
    dup_rows: int  # duplicate (doc, token) rows, all sides
    n_words: int  # bitset words; 0 when the vocabulary is off the bitset
    hot_thr: int | None  # heavy-hitter split threshold; None disables


def _doc_freq(
    tokenizer: Tokenizer,
    tokens: DataFrame,
    doc: tuple[str, ...] = ("id",),
) -> _DocFreq:
    """Document frequency of every token (jaccard_join.py:127-130) for
    a self join's token frame or the inner join's side-tagged one
    (``doc`` names the columns that identify a document, as in
    :func:`_docs`: ``("side", <key columns>)`` when tagged), persisted,
    plus the plan decisions its statistics make.

    The inner join's df is the cross-table product ``l_df * r_df``,
    with :data:`_WIDOW_DF` for a token one side lacks
    (jaccard_join.py:270-295). Both per-side counts come out of the
    same ``groupBy("token")`` (a ``count_if`` per side — no per-side
    aggregates, no outer join) and stay in the dim, because hotness is
    a per-side property.

    ONE eager aggregate over the persisted dim drives every decision:
    the vocabulary picks bitset verification (when a document's token
    set fits in a few 64-bit words — measured ~8x faster than per-pair
    array_intersect on the dense q-gram corpus), ``N`` and the largest
    per-side df engage the heavy-hitter split, and ``dup_rows`` picks
    the array or the three-way verify (:func:`_verify`). ``dup_rows``
    sums a per-token ``count - count_distinct(doc)``, the exact count
    of duplicate ``(doc, token)`` rows; a ``rows_distinct`` tokenizer
    promises 0, so the hash-set aggregate runs only for the others.
    The dim is the algorithm's own required shuffle; persisting it
    means the ``docs`` build reuses it, so the only added cost is reading
    back the vocab-sized table once.

    The returned ``dim`` carries each token's integer ``tid``
    (:func:`_tid_rank`), whose order is the reference's ``(df,
    token)`` order: :func:`_docs` carries it in place of the token, so
    ``pos``, every prefix, the candidate join and the verify run on
    integers (the integer token dictionary of AllPairs, Bayardo, Ma
    and Srikant, WWW 2007). The tids are dense ``1..V`` when the
    vocabulary fits ``_RANK_ROWS``, and the bitset path, the one
    reader that needs them dense, is gated on that."""
    tagged = "side" in doc
    if tagged:
        side_dfs = ("l_df", "r_df")
        counts = [F.count_if(F.col("side") == i).alias(c)
                  for i, c in enumerate(side_dfs)]
    else:
        side_dfs = ("df",)
        counts = [F.count(F.lit(1)).alias("df")]
    if not tokenizer.rows_distinct:
        # count(DISTINCT a, b, ..) skips rows with a NULL column, and an
        # inner join with differently typed keys has one NULL key per row
        distinct = [*doc] if len(doc) <= 2 else [F.struct(*doc)]
        counts.append(
            (F.count(F.lit(1)) - F.count_distinct(*distinct)).alias("dup")
        )
    dim = tokens.groupBy("token").agg(*counts)
    if tagged:
        dim = dim.withColumn("df", F.when(
            (F.col("l_df") > 0) & (F.col("r_df") > 0),
            F.col("l_df") * F.col("r_df"),
        ).otherwise(F.lit(_WIDOW_DF)))
    dim = dim.persist(StorageLevel.MEMORY_AND_DISK)
    row = dim.agg(
        F.count(F.lit(1)).alias("vocab"),
        *[F.sum(c).alias(f"n_{c}") for c in side_dfs],
        *[F.max(c).alias(f"m_{c}") for c in side_dfs],
        (F.lit(0) if tokenizer.rows_distinct else F.sum("dup")).alias("dup"),
    ).first()
    vocab = int(row["vocab"] or 0)
    n_tok = sum(int(row[f"n_{c}"] or 0) for c in side_dfs)
    max_df = max(int(row[f"m_{c}"] or 0) for c in side_dfs)
    n_words = 0
    # the bit of a token is its tid: the bitset needs dense tids
    if tokenizer.rows_distinct and 0 < vocab <= min(_MAX_BITSET_VOCAB,
                                                    _RANK_ROWS):
        n_words = (vocab + 63) // 64
    if n_words:
        # the tid dim broadcasts wholesale: the build join is already
        # map-side and skew-free, so the heavy-hitter split is moot
        hot_thr = None
    else:
        hot_thr = _auto_hot_threshold(
            n_tok, max_df, _shuffle_partitions(tokens)
        )
    return _DocFreq(
        _tid_rank(dim, vocab), dim, side_dfs, vocab, n_tok, max_df,
        int(row["dup"] or 0), n_words, hot_thr,
    )


def _tid_rank(dim: DataFrame, vocab: int) -> DataFrame:
    """``dim`` with ``tid``: an integer per token, unique, whose order
    is the ``(df, token)`` order, computed with no nondeterministic
    expression, so a recomputed partition gets the same tids.

    Up to ``_RANK_ROWS`` tokens, ``tid`` is the token's 1-based rank in
    one unpartitioned window (dense ``1..V``, an int). Above, it is a
    bigint, and no window sorts the whole vocabulary on one partition:
    a sample of the tokens, picked by a hash of the token alone, gives
    split points of the ``(df, token)`` order, ``bucket`` is a pure
    function of ``(df, token)`` and those literal points, and ``tid =
    bucket·2^32 + row_number() OVER (PARTITION BY bucket ORDER BY df,
    token)`` — no offset job. The sample is sorted on the driver by
    Spark's own order (strings by their UTF-8 bytes) and the bucket
    found by a binary search of nested ``CASE WHEN``s."""
    if vocab <= _RANK_ROWS:
        return dim.withColumn(
            "tid", F.row_number().over(Window.orderBy("df", "token"))
        )
    n_buckets = -(-4 * vocab // _RANK_ROWS)
    span = 1 << 20
    keep = min(span, -(-span * _RANK_SAMPLE_PER_BUCKET * n_buckets // vocab))
    rows = dim.filter(
        F.pmod(F.xxhash64("token"), F.lit(span)) < keep
    ).select("df", "token").collect()

    def spark_order(p):
        df, token = p
        if isinstance(token, str):
            return df, token.encode("utf-8", "surrogatepass")
        return df, token

    sample = sorted(((r[0], r[1]) for r in rows), key=spark_order)
    n_buckets = max(1, min(n_buckets, len(sample)))
    # points[b - 1] is the least (df, token) of bucket b
    points = [sample[b * len(sample) // n_buckets]
              for b in range(1, n_buckets)]

    def bucket(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2
        df, token = points[mid - 1]
        at_least = (F.col("df") > df) | (
            (F.col("df") == df) & (F.col("token") >= F.lit(token))
        )
        return F.when(at_least, bucket(mid, hi)).otherwise(bucket(lo, mid - 1))

    rank = Window.partitionBy("bucket").orderBy("df", "token")
    return (
        dim.withColumn("bucket", bucket(0, n_buckets - 1).cast("long"))
        .withColumn("tid",
                    F.shiftleft("bucket", 32) + F.row_number().over(rank))
        .drop("bucket")
    )


def _docs(
    tokens: DataFrame,
    dim: DataFrame,
    n_words: int,
    hot_thr: int | None,
    side_dfs: tuple[str, ...] = ("df",),
    doc: tuple[str, ...] = ("id",),
    with_pair_key: bool = False,
    keep_token: bool = False,
) -> DataFrame:
    """tokens ⋈ the ranked doc-frequency dim ``(token, df, tid[, l_df,
    r_df])`` → one row per document, ``docs(*doc, len, arr[, b0..][,
    nw][, l_id])``; ``doc`` names the columns that identify a document:
    ``("id",)`` for a self join, ``("side", <key columns>)`` for the
    inner join's side-tagged frame, built once for both sides.

    ``arr`` is the document's tids (:func:`_tid_rank`) sorted, the
    reference's ``(df, token)`` order (jaccard_join.py:132-137): a
    token's ``pos`` is its index in ``arr`` plus one (:func:`_token_rows`),
    and every later stage keys on an integer. An inner join's two sides
    rank over one shared dim, so a token gets the same tid on both;
    ``nw`` counts an inner join document's widows (df
    :data:`_WIDOW_DF`), which sort last. ``l_id = concat(len, '_',
    id)`` is the self join's pair-ordering key (jaccard_join.py:135).
    ``keep_token`` (:func:`tokens_with_doc_freq`) keeps the string, from
    a dim without tids: ``arr`` holds ``struct(df, token)``.

    Bitset path (``n_words > 0``): the tids are dense ``1..V`` (the
    bitset gate of :func:`_doc_freq` bounds the vocabulary at
    ``_MAX_BITSET_VOCAB``), so ``tid - 1`` is the token's bit; the dim
    broadcasts, and the same aggregation builds the document's bitset
    words ``b0..`` (:func:`_bit_words`).

    ``hot_thr`` (skew mitigation for Zipf token distributions): a token
    row is a heavy hitter when its own side's df (``side_dfs``: ``df``,
    or ``l_df``/``r_df`` by the row's ``side``) is ``>= hot_thr``. The
    hottest word of a crawl corpus puts a constant fraction of all rows
    into ONE partition of the tokens ⋈ dim join, and AQE does not split
    it: both sides are shuffled by token (the ranked dim comes out of
    the ``tid`` window), yet the executed plan shows no skew split.
    The few hot dim rows (keyed by ``(side, token)`` for an inner
    join) broadcast instead, and only the cold tail, pre-filtered by a
    broadcast anti-join, goes through the shuffle join. Identical
    output rows; tools/skew_demo.py checks the plan and measures the
    straggler relief.
    """
    cols = ["token", "df"] if keep_token else ["token", "df", "tid"]
    dfreq = dim.select(*cols)
    if n_words:
        joined = tokens.join(F.broadcast(dfreq), "token")
    elif hot_thr:
        hots = [F.col(c) >= F.lit(int(hot_thr)) for c in side_dfs]
        if len(hots) == 1:
            on, hot = "token", dim.filter(hots[0]).select(*cols)
        else:
            on = ["side", "token"]
            hot = functools.reduce(DataFrame.unionByName, [
                dim.filter(h).select(F.lit(i).alias("side"), *cols)
                for i, h in enumerate(hots)
            ])
        cold = ~functools.reduce(operator.and_, hots)
        joined = (
            tokens.join(F.broadcast(hot.select(on)), on, "left_anti")
            .join(dim.filter(cold).select(*cols), "token")
            .unionByName(tokens.join(F.broadcast(hot), on))
        )
    else:
        joined = tokens.join(dfreq, "token")
    item = F.struct("df", "token") if keep_token else F.col("tid")
    widows = [F.count_if(F.col("df") == _WIDOW_DF).alias("nw")]
    out = joined.groupBy(*doc).agg(
        F.max("len").alias("len"),
        F.array_sort(F.collect_list(item)).alias("arr"),
        *_bit_words(n_words),
        *(widows if "side" in doc else []),
    )
    if with_pair_key:
        out = out.withColumn(
            "l_id",
            F.concat(
                F.col("len").cast("string"),
                F.lit("_"),
                F.col("id").cast("string"),
            ),
        )
    return out


def _token_rows(docs: DataFrame, t: float | None = None) -> DataFrame:
    """``docs`` (:func:`_docs`) → one row per token: every column but
    ``arr``, then ``pos`` and ``token``, by ``posexplode(arr)`` with
    ``pos`` counted from 1 — the token's rank in ``(df, token)`` order
    within its document. With ``t``, only each document's first ``len
    - floor(len·t) + 1`` positions explode: they hold the probing
    prefix and the indexing prefix, shorter at any ``t <= 1`` (above 1
    no pair passes), and :func:`_candidates` still applies both
    filters exactly."""
    arr = F.col("arr")
    if t is not None:
        n = F.col("len") - F.floor(F.col("len") * t) + 1
        arr = F.slice(arr, 1, F.greatest(n, F.lit(0)).cast("int"))
    return docs.select(
        *[c for c in docs.columns if c != "arr"],
        F.posexplode(arr).alias("pos", "token"),
    ).withColumn("pos", F.col("pos") + 1)


def tokens_with_doc_freq(
    tokens: DataFrame,
    with_pair_key: bool = False,
) -> DataFrame:
    """tokens → ``tkdf(id, len, token, df, pos[, l_id])``: the self
    join's per-document build (see :func:`_docs`) exploded back into
    token rows, as a lazy frame, without the heavy-hitter split. It
    keeps the string ``token``: each document sorts its ``struct(df,
    token)`` pairs, so ``pos`` ranks ``(df, token)`` itself and no
    eager job builds a tid."""
    dfreq = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    docs = _docs(tokens, dfreq, 0, None,
                 with_pair_key=with_pair_key, keep_token=True)
    return _token_rows(docs).select(
        "id", "len", "token.token", "token.df", "pos",
        *(["l_id"] if with_pair_key else []),
    )


def _widow_counts(docs: DataFrame, t: float) -> tuple[int, int]:
    """The inner join's side-swap scalars: per side, the indexing-prefix
    rows whose df is :data:`_WIDOW_DF`, the reference's
    ``fetchall()[0][0]`` counts (jaccard_join.py:324-353), in one global
    aggregate over the persisted side-tagged ``docs``, with no
    ``groupBy("token")``. Widows have the largest tids, so they are a
    document's last ``nw`` of its ``len`` positions."""
    widow = (
        _indexing_prefix_cond(F.col("len"), F.col("pos"), t)
        & (F.col("pos") > F.col("len") - F.col("nw"))
    )
    row = _token_rows(docs).agg(*[
        F.count_if(widow & (F.col("side") == i)).alias(f"w{i}")
        for i in (0, 1)
    ]).first()
    return int(row["w0"]), int(row["w1"])


# --------------------------------------------------------------------------
# set-overlap kernel: |x ∩ y| for every verifier (the bitset candidate
# join below, the dedup verifies in .dedup and the streaming near-dup)
# --------------------------------------------------------------------------

def _tid_dim(spark, token_type, tokens: list) -> DataFrame:
    """The literal ``(token, tid)`` dim of a collected, bounded
    vocabulary: ``tid`` is the token's 1-based position in ``tokens``.
    A literal frame has no lineage, so the broadcast it feeds never
    re-runs the aggregation the vocabulary was collected from."""
    return spark.createDataFrame(
        [(tk, i + 1) for i, tk in enumerate(tokens)],
        T.StructType([
            T.StructField("token", token_type, False),
            T.StructField("tid", T.IntegerType(), False),
        ]),
    )


def _bit_words(n_words: int) -> list[Column]:
    """The aggregates ``b0..b{n_words-1}``: ``bit_or`` of bit ``tid-1``
    (LSB-first within each 64-bit word), a document's token set as a
    bitset over ``tid`` once aggregated over its rows. One SQL-text
    expression per word: building each from Column calls costs dozens
    of py4j round trips per word."""
    return [
        F.expr(
            f"bit_or(CASE WHEN tid > {64 * i} AND tid <= {64 * (i + 1)} "
            f"THEN shiftleft(CAST(1 AS BIGINT), tid - 1 - {64 * i}) "
            f"ELSE CAST(0 AS BIGINT) END) AS b{i}"
        )
        for i in range(n_words)
    ]


def _doc_bitsets(tk: DataFrame, n_words: int, *aggs: Column) -> DataFrame:
    """One row per document: ``(id, *aggs, b0..b{n_words-1})`` — the
    :func:`_bit_words` bitset, plus any per-document ``aggs`` in the
    same all-compiled aggregation."""
    return tk.groupBy("id").agg(*aggs, *_bit_words(n_words))


def _set_overlap(n_words: int, l: str = "l", r: str = "r") -> Column:
    """``|x ∩ y|`` of a pair whose columns carry the side prefixes ``l``
    and ``r`` (``lb0`` from :func:`_attach`, ``L.b0`` in a join of
    aliased frames): the popcount sum of the ANDed bitset words (one
    SQL-text expression) when ``n_words > 0``, else the size of the
    token arrays' intersection. Exact when no token repeats within a
    document."""
    if not n_words:
        return F.size(F.array_intersect(f"{l}arr", f"{r}arr"))
    return F.expr(" + ".join(
        f"bit_count({l}b{i} & {r}b{i})" for i in range(n_words)
    ))


def _attach(cand: DataFrame, l_doc: DataFrame, r_doc: DataFrame) -> DataFrame:
    """``cand(lid, rid, ...)`` joined with each side's one-row-per-
    document table on its ``id``, every column of that table prefixed
    with the side (``lid, llen, lb0, ...``; ``rid, rarr, ...``)."""
    for side, doc in (("l", l_doc), ("r", r_doc)):
        doc = doc.select(*[F.col(c).alias(side + c) for c in doc.columns])
        cand = cand.join(doc, f"{side}id")
    return cand


def _jaccard_score(
    overlap: Column, l_len: Column, r_len: Column
) -> Column:
    """Exact similarity from overlap and set sizes:
    ``J = |x∩y| / (|x|+|y|-|x∩y|)``, one correctly-rounded double
    division on integer operands — bit-identical across engines (the
    oracle SQL casts the same operands, plans/ref_sql.py).

    Beyond-reference extension (SURVEY.md §7 M7): the reference's
    output is pairs only (§4.3.7); ``with_score=True`` variants append
    this column. In the filtered paths the verification identity
    ``overlap = sfx + pfxOverlap - 1`` is EXACT, not just a bound:
    tokens rank in one global (df, token) order, so every common token
    before the last prefix match lies in both prefixes (counted by
    pfxOverlap) and every one after it in both suffixes (counted by
    sfx), with the last prefix match itself counted by both.

    Exactness requires duplicate-row-free token tables (set
    semantics). ``with_score`` rejects bag mode outright; the
    remaining degenerate corner is the reference's dedup-before-
    lowercase quirk (case-collapsed duplicate rows), where the
    row-counted overlap can reach ``llen + rlen`` — the denominator
    is NULLed then (Spark ANSI would otherwise raise DIVIDE_BY_ZERO;
    the oracle SQL uses ``nullif`` for the same NULL).
    """
    denom = l_len + r_len - overlap
    return (
        F.when(denom != 0, overlap.cast("double") / denom)
    ).alias("jaccard")


def _check_score_semantics(tokenizer: Tokenizer, with_score: bool) -> None:
    """``with_score`` needs set semantics: the bag-mode overlap counts
    duplicate token matches, so it is no Jaccard numerator (it can even
    exceed ``llen + rlen``)."""
    if with_score and not tokenizer.return_set:
        raise ValueError(
            "with_score requires set semantics (return_set=True): the "
            "bag-mode overlap counts duplicate token matches and is not "
            "a Jaccard numerator"
        )


def _suffix_overlap(
    l_arr: Column, l_len: Column, l_maxpos: Column,
    r_arr: Column, r_len: Column, r_maxpos: Column,
) -> Column:
    """``|{t : t ∈ x∩y, pos_x(t) >= lmaxpos, pos_y(t) >= rmaxpos}|``
    via slice + array_intersect — equals the reference's suffix
    ``count(*)`` when token rows are distinct per document. The arrays
    hold integer tids, which Spark intersects with its specialised
    primitive hash set; string arrays take the boxed generic one."""
    return F.size(
        F.array_intersect(
            F.slice(l_arr, l_maxpos, l_len - l_maxpos + F.lit(1)),
            F.slice(r_arr, r_maxpos, r_len - r_maxpos + F.lit(1)),
        )
    )


def _candidates(
    idx_docs: DataFrame, prb_docs: DataFrame, t: float, pair_cond: Column,
    n_words: int,
) -> DataFrame:
    """Candidate generation (jaccard_join.py:148-169, 364-384) for both
    the self and the inner join: the indexing prefix of ``idx_docs``
    (aliased ``L``) equi-joins the probing prefix of ``prb_docs``
    (aliased ``R``) on ``token`` under ``pair_cond`` (the join's own
    predicate on ``L``/``R`` columns) and the positional filter. Each
    side is its :func:`_docs` frame exploded into token rows, only as
    far as the prefix bound reaches (:func:`_token_rows`); the
    single-side prefix conditions are pre-join filters — the same
    predicate set as the reference's fused WHERE, but explicit so the
    shuffle inputs shrink before the token equi-join.

    Returns ``(lid, rid, lmax, rmax, pfxoverlap)`` for :func:`_verify`
    (``n_words == 0``): ``lmax``/``rmax`` are each side's largest
    matched ``pos`` and ``pfxoverlap`` counts the matched prefix tokens.

    Bitset path (``n_words > 0``): the rows carry their documents'
    bitset words (:func:`_docs`), so the condition also verifies — the
    full popcount :func:`_set_overlap` equals the reference's ``sfx +
    pfxOverlap - 1`` under set semantics (see _jaccard_score) — and
    keeps one row per pair by the lowest-shared-token rule: no bit of
    ``L.b & R.b`` lies below ``L.token`` (the tid). The result is the
    verified pairs ``(lid, rid, llen, rlen, overlap)``, with no pair
    aggregate.
    The rule is exact: ``tid`` order is ``pos`` order on both sides
    (one global ``(df, token)`` ranking), the prefix and positional
    filters only tighten as ``pos`` grows, and the pair predicate and
    length filter are constant per pair; so if any shared prefix token
    produces a join row, the smallest shared token does too, and the
    rule keeps exactly that row. The masks are ``~shiftleft(-1L, k)``:
    ``x & -x`` and ``x - 1`` overflow under ANSI at bit 63."""
    L = _token_rows(idx_docs, t).filter(
        _indexing_prefix_cond(F.col("len"), F.col("pos"), t)
    ).alias("L")
    R = _token_rows(prb_docs, t).filter(
        _probing_prefix_cond(F.col("len"), F.col("pos"), t)
    ).alias("R")
    cond = (
        (F.col("L.token") == F.col("R.token"))
        & pair_cond
        & _positional_cond(
            F.col("L.len"), F.col("L.pos"), F.col("R.len"), F.col("R.pos"), t
        )
    )
    if n_words:
        overlap = _set_overlap(n_words, "L.", "R.")
        # no shared bit of word i lies below bit L.token - 1: one SQL-text
        # conjunction over every word
        lowest = F.expr(" AND ".join(
            f"L.b{i} & R.b{i} & CASE WHEN L.token > {64 * i + 64} THEN -1L"
            f" WHEN L.token > {64 * i} THEN ~shiftleft(-1L, L.token - "
            f"{64 * i + 1}) ELSE 0L END = 0"
            for i in range(n_words)
        ))
        cond = (
            cond
            & _overlap_cond(overlap, F.col("L.len"), F.col("R.len"), t)
            & lowest
        )
        return L.join(R, cond).select(
            F.col("L.id").alias("lid"), F.col("R.id").alias("rid"),
            F.col("L.len").alias("llen"), F.col("R.len").alias("rlen"),
            overlap.alias("overlap"),
        )
    return L.join(R, cond).groupBy(
        F.col("L.id").alias("lid"), F.col("R.id").alias("rid")
    ).agg(
        F.max("L.pos").alias("lmax"),
        F.max("R.pos").alias("rmax"),
        F.count(F.lit(1)).alias("pfxoverlap"),
    )


def _verify(
    cand: DataFrame,
    l_docs: DataFrame,
    r_docs: DataFrame,
    t: float,
    freq: _DocFreq,
    out_cols: tuple[str, str],
    with_score: bool,
) -> DataFrame:
    """Verification (jaccard_join.py:169-188) for both the self and the
    inner join: accept a candidate pair iff its overlap is
    ``>= (llen + rlen)·t/(1+t)``. The reference counts the overlap as
    ``sfx + pfxOverlap - 1``, where ``sfx`` is the number of tokens
    the pair shares with ``pos >= maxPos`` on BOTH sides (``>=``, not
    ``>``, to catch pairs whose prefixes match entirely but suffixes
    share nothing); a pair with zero suffix matches is dropped, exactly
    as the reference's three-way join behaves. There is no
    remaining-suffix pre-filter: it is provably vacuous (see
    _positional_cond).

    ``cand`` comes from :func:`_candidates`; ``l_docs``/``r_docs`` are
    the two sides' :func:`_docs` frames (one frame for a self join, the
    side views of the one side-tagged frame for an inner join); ``freq``
    is the join's :class:`_DocFreq`. Both attach tables are broadcast when
    ``freq.n_tok`` fits ``_MAX_BROADCAST_VERIFY_TOKENS``, so the
    candidate stream is never shuffled into them; above it AQE picks
    the join. The strategy follows from the data:

    - bitset (``freq.n_words > 0``: the vocabulary fits
      ``_MAX_BITSET_VOCAB`` and the tokenizer promises distinct rows):
      the candidate join already verified each pair on its full
      popcount, so this is a plain select.
    - array (``freq.dup_rows == 0``: no duplicate ``(id, token)`` rows,
      promised by the tokenizer or counted by :func:`_doc_freq`):
      ``sfx`` by compiled slice + array_intersect of each document's
      sorted tids, the ``arr`` of ``docs`` attached as it is (no
      re-aggregation; a self join attaches its one ``docs`` to both
      sides). Exact because the suffix row-pair count equals the set
      overlap when no row repeats. Measured 1.8-7.3× faster than the
      three-way join at refscale profile cells whose rows were distinct
      at runtime; an unsliced intersect of the full arrays was slower
      still on the 5-gram t=0.3 benchmark join.
    - three-way (duplicates present): the reference's pairs × tokens
      join over each side's exploded token rows (:func:`_token_rows`),
      which counts every duplicate row pair. An interpreted higher-order
      pair count that is exact under duplicates was measured 2× slower
      than it (higher-order expressions do not whole-stage-codegen).
    """
    overlap = F.col("sfx") + F.col("pfxoverlap") - 1
    accept = _overlap_cond(overlap, F.col("llen"), F.col("rlen"), t)
    hint = (F.broadcast if freq.n_tok <= _MAX_BROADCAST_VERIFY_TOKENS
            else lambda doc: doc)
    if freq.n_words:  # the candidate join verified every pair
        out, overlap = cand, F.col("overlap")
    elif freq.dup_rows == 0:
        out = _attach(
            cand, hint(l_docs.select("id", "len", "arr")),
            hint(r_docs.select("id", "len", "arr")),
        ).withColumn("sfx", _suffix_overlap(
            F.col("larr"), F.col("llen"), F.col("lmax"),
            F.col("rarr"), F.col("rlen"), F.col("rmax"),
        )).filter((F.col("sfx") >= 1) & accept)
    else:
        l_tk, r_tk = _token_rows(l_docs), _token_rows(r_docs)
        out = (
            cand.join(hint(l_tk).alias("VL"), F.col("lid") == F.col("VL.id"))
            .join(
                hint(r_tk).alias("VR"),
                (F.col("rid") == F.col("VR.id"))
                & (F.col("VL.token") == F.col("VR.token"))
                & (F.col("VL.pos") >= F.col("lmax"))
                & (F.col("VR.pos") >= F.col("rmax")),
            )
            .groupBy(
                "lid", "rid", F.col("VL.len").alias("llen"),
                F.col("VR.len").alias("rlen"), "pfxoverlap",
            )
            .agg(F.count(F.lit(1)).alias("sfx"))
            .filter(accept)
        )
    score = [
        _jaccard_score(overlap, F.col("llen"), F.col("rlen"))
    ] if with_score else []
    return out.select(
        F.col("lid").alias(out_cols[0]), F.col("rid").alias(out_cols[1]),
        *score,
    )


# SHUFFLE_HASH on the jaccard candidate joins was measured and rejected
# (interleaved A/B, rows identical): jaccard_self_ws 12.32 s vs 3.55 s
# sort-merge, jaccard_inner_ws 8.16 vs 4.79, jaccard_self_qgram a tie.
# The ws corpus has 31 tokens over 32 shuffle partitions, one giant hash
# chain per partition; dedup's n-gram join hint (2,333 keys) won, and is
# gated on key density for this reason.


# --------------------------------------------------------------------------
# self join (reference _JaccardSelfJoin, jaccard_join.py:111-232)
# --------------------------------------------------------------------------

def jaccard_self_join(
    df: DataFrame,
    key_attr: str,
    join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    with_score: bool = False,
) -> DataFrame:
    """Prefix-filtered Jaccard self-join; returns the pair DataFrame
    ``({l_out_prefix}{key_attr}, {r_out_prefix}{key_attr})``, plus an
    exact ``jaccard`` double column when ``with_score`` (extension —
    see _jaccard_score). On a Zipf-skewed corpus the ``docs`` build
    takes the heavy-hitter broadcast split (:func:`_docs`) when
    :func:`_auto_hot_threshold` finds the df skew worth it; the split
    changes the plan, never the result.

    The shared stages run with the one token frame on both sides:
    :func:`_doc_freq`, :func:`_docs`, :func:`_candidates` and
    :func:`_verify`. Specific to the self join is the pair predicate
    (``L.l_id < R.l_id``, each unordered pair once, plus the one-sided
    length filter). Building the frame runs one Spark action, the
    doc-frequency statistics (and the tid sample of a vocabulary above
    ``_RANK_ROWS``); everything after it is lazy. The token frame, the
    doc-frequency dim and ``docs`` stay cached after the result is
    computed, until the caller runs ``spark.catalog.clearCache()``:
    a session of many joins holds one set of them per join."""
    _check_score_semantics(tokenizer, with_score)
    t = float(threshold)
    # tokens feed both the doc-frequency aggregation and the docs
    # join — uncached, the tokenize chain executes twice.
    tokens = tokenizer.tokenize(df, key_attr, join_attr).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # freq.cache stays persisted: docs is still lazy, so freeing the
    # dim here would make the final query aggregate the tokens again
    freq = _doc_freq(tokenizer, tokens)
    docs = _docs(
        tokens, freq.dim, freq.n_words, freq.hot_thr, with_pair_key=True
    ).persist(StorageLevel.MEMORY_AND_DISK)

    cand = _candidates(
        docs, docs, t,
        (F.col("L.l_id") < F.col("R.l_id"))
        & _length_cond(F.col("L.len"), F.col("R.len"), t),
        freq.n_words,
    )
    return _verify(
        cand, docs, docs, t, freq,
        (f"{l_out_prefix}{key_attr}", f"{r_out_prefix}{key_attr}"),
        with_score,
    )


def jaccard_self_join_brute_force(
    df: DataFrame,
    key_attr: str,
    join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    with_score: bool = False,
) -> DataFrame:
    """O(pairs-sharing-a-token) oracle (jaccard_join.py:190-201):
    tokens ⋈ tokens on token with ``L.id < R.id``, group by pair,
    ``HAVING count(*) >= (L.len+R.len)*t/(1+t)``."""
    _check_score_semantics(tokenizer, with_score)
    t = float(threshold)
    # Both sides of the self-join read tokens.
    tokens = tokenizer.tokenize(df, key_attr, join_attr).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    L = tokens.alias("L")
    R = tokens.alias("R")
    return (
        L.join(
            R,
            (F.col("L.token") == F.col("R.token"))
            & (F.col("L.id") < F.col("R.id")),
        )
        .groupBy(
            F.col("L.id").alias("lid"),
            F.col("L.len").alias("llen"),
            F.col("R.id").alias("rid"),
            F.col("R.len").alias("rlen"),
        )
        .agg(F.count(F.lit(1)).alias("overlap"))
        .filter(
            _overlap_cond(
                F.col("overlap"), F.col("llen"), F.col("rlen"), t
            )
        )
        .select(
            F.col("lid").alias(f"{l_out_prefix}{key_attr}"),
            F.col("rid").alias(f"{r_out_prefix}{key_attr}"),
            *(
                [_jaccard_score(
                    F.col("overlap"), F.col("llen"), F.col("rlen")
                )]
                if with_score else []
            ),
        )
    )


# --------------------------------------------------------------------------
# inner (two-table) join (reference _JaccardInnerJoin, jaccard_join.py:235-469)
# --------------------------------------------------------------------------

def _tag_sides(
    l_tokens: DataFrame, r_tokens: DataFrame
) -> tuple[DataFrame, tuple[str, str]]:
    """The two token frames as one side-tagged frame ``(side, <keys>,
    len, token)``, ``side`` 0 for ``l_tokens`` and 1 for ``r_tokens``,
    and each side's key column: one shared ``id`` when the key types
    agree, else ``id0`` and ``id1``, each NULL on the other side's rows
    — a shared column of one type would need a cast of the other
    side's keys."""
    same = l_tokens.schema["id"].dataType == r_tokens.schema["id"].dataType
    keys = ("id", "id") if same else ("id0", "id1")
    tagged = [
        tk.select(F.lit(i).alias("side"), F.col("id").alias(key), "len",
                  "token")
        for i, (tk, key) in enumerate(zip((l_tokens, r_tokens), keys))
    ]
    return tagged[0].unionByName(tagged[1], allowMissingColumns=True), keys


def jaccard_inner_join(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    with_score: bool = False,
) -> DataFrame:
    """Two-table prefix-filtered join with the reference's widow
    handling and adaptive side selection (jaccard_join.py:265-362).

    The heavy-hitter broadcast split of :func:`_docs`, when
    :func:`_auto_hot_threshold` engages it, applies PER SIDE to the
    shared cross-table df: a token row is hot iff its own side's df
    clears the threshold. Build plan only; output rows are identical
    either way.

    The shared stages run ONCE, over one side-tagged token frame
    ``(side, key, len, token)`` — ``side`` 0 for ``l_df``, 1 for
    ``r_df``; the R-S join of Vernica, Carey and Li (SIGMOD 2010) tags
    its records the same way: :func:`_doc_freq` (one aggregate with
    per-side counts, cross-table df, widow placeholder
    :data:`_WIDOW_DF`), :func:`_docs` (one per-document build grouped
    by ``(side, key)``, persisted once), :func:`_widow_counts`, then
    :func:`_candidates` and :func:`_verify` over the ``docs`` frame's
    ``side == i`` and ``side == j`` views. Keys of different types keep
    their own columns (:func:`_tag_sides`), so no cast converts one
    side's keys.

    Specific to the inner join are the side swap — the side with more
    indexing-prefix widows becomes the indexing side (ties go to
    (r, l): jaccard_join.py:353, SURVEY.md §4.3.4) — and the two-sided
    length filter. Building the frame runs two Spark actions on every
    path: the doc-frequency statistics and the widow counts. The
    reference's two full-table counts (widow placeholder) are replaced
    by an order-equivalent constant.
    """
    _check_score_semantics(tokenizer, with_score)
    t = float(threshold)
    tokens, keys = _tag_sides(
        tokenizer.tokenize(l_df, l_key_attr, l_join_attr),
        tokenizer.tokenize(r_df, r_key_attr, r_join_attr),
    )
    tokens = tokens.persist(StorageLevel.MEMORY_AND_DISK)
    doc = ("side", *dict.fromkeys(keys))
    freq = _doc_freq(tokenizer, tokens, doc)
    docs = _docs(
        tokens, freq.dim, freq.n_words, freq.hot_thr, freq.side_dfs, doc
    ).persist(StorageLevel.MEMORY_AND_DISK)
    widows = _widow_counts(docs, t)
    # That job materialized the persisted docs, so the token frame and
    # the cross-table dim cache are now dead weight — free them.
    freq.cache.unpersist()
    tokens.unpersist()

    def view(side: int) -> DataFrame:
        v = docs.filter(F.col("side") == side)
        if keys[0] == keys[1]:
            return v
        return v.drop(keys[1 - side]).withColumnRenamed(keys[side], "id")

    # Side swap: indexing side i keeps the short 2t/(1+t) prefix, the
    # probing side j takes the longer t prefix.
    i, j = (0, 1) if widows[0] > widows[1] else (1, 0)
    idx_docs, prb_docs = view(i), view(j)
    cand = _candidates(
        idx_docs, prb_docs, t,
        _length_cond(F.col("L.len"), F.col("R.len"), t)
        & _length_cond(F.col("R.len"), F.col("L.len"), t),
        freq.n_words,
    )
    # Output column names reproduce the reference quirk: the indexing
    # side's out_prefix pairs with the *left* key attr name and the
    # probing side's with the right, regardless of swap.
    prefixes = (l_out_prefix, r_out_prefix)
    return _verify(
        cand, idx_docs, prb_docs, t, freq,
        (f"{prefixes[i]}{l_key_attr}", f"{prefixes[j]}{r_key_attr}"),
        with_score,
    )


def jaccard_inner_join_brute_force(
    l_df: DataFrame,
    r_df: DataFrame,
    l_key_attr: str,
    r_key_attr: str,
    l_join_attr: str,
    r_join_attr: str,
    tokenizer: Tokenizer,
    threshold: float,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    with_score: bool = False,
) -> DataFrame:
    """Two-table oracle (jaccard_join.py:407-420)."""
    _check_score_semantics(tokenizer, with_score)
    t = float(threshold)
    L = tokenizer.tokenize(l_df, l_key_attr, l_join_attr).alias("L")
    R = tokenizer.tokenize(r_df, r_key_attr, r_join_attr).alias("R")
    return (
        L.join(R, F.col("L.token") == F.col("R.token"))
        .groupBy(
            F.col("L.id").alias("lid"),
            F.col("L.len").alias("llen"),
            F.col("R.id").alias("rid"),
            F.col("R.len").alias("rlen"),
        )
        .agg(F.count(F.lit(1)).alias("overlap"))
        .filter(
            _overlap_cond(
                F.col("overlap"), F.col("llen"), F.col("rlen"), t
            )
        )
        .select(
            F.col("lid").alias(f"{l_out_prefix}{l_key_attr}"),
            F.col("rid").alias(f"{r_out_prefix}{r_key_attr}"),
            *(
                [_jaccard_score(
                    F.col("overlap"), F.col("llen"), F.col("rlen")
                )]
                if with_score else []
            ),
        )
    )


# --------------------------------------------------------------------------
# dispatch (reference jaccard_join / jaccard_join_brute_force,
# jaccard_join.py:9-60)
# --------------------------------------------------------------------------

def jaccard_join(
    l_df: DataFrame,
    r_df: DataFrame | None,
    l_key_attr: str,
    r_key_attr: str | None,
    l_join_attr: str,
    r_join_attr: str | None,
    tokenizer: Tokenizer,
    threshold: float,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    with_score: bool = False,
) -> DataFrame:
    """Self-join when ``r_df`` is None or the same DataFrame object
    (the reference dispatches on table-name equality)."""
    if r_df is None or r_df is l_df:
        return jaccard_self_join(
            l_df, l_key_attr, l_join_attr, tokenizer, threshold,
            l_out_prefix, r_out_prefix, with_score=with_score,
        )
    return jaccard_inner_join(
        l_df, r_df, l_key_attr, r_key_attr or l_key_attr, l_join_attr,
        r_join_attr or l_join_attr, tokenizer, threshold,
        l_out_prefix, r_out_prefix, with_score=with_score,
    )


def jaccard_join_brute_force(
    l_df: DataFrame,
    r_df: DataFrame | None,
    l_key_attr: str,
    r_key_attr: str | None,
    l_join_attr: str,
    r_join_attr: str | None,
    tokenizer: Tokenizer,
    threshold: float,
    l_out_prefix: str = "l_",
    r_out_prefix: str = "r_",
    with_score: bool = False,
) -> DataFrame:
    if r_df is None or r_df is l_df:
        return jaccard_self_join_brute_force(
            l_df, l_key_attr, l_join_attr, tokenizer, threshold,
            l_out_prefix, r_out_prefix, with_score=with_score,
        )
    return jaccard_inner_join_brute_force(
        l_df, r_df, l_key_attr, r_key_attr or l_key_attr, l_join_attr,
        r_join_attr or l_join_attr, tokenizer, threshold,
        l_out_prefix, r_out_prefix, with_score=with_score,
    )
