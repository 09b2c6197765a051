"""Count-Min-Sketch heavy hitters: bounded sketch build + map-side
prefilter + exact verification.

The problem at 100 TB: "which n-grams / domains / tokens occur at
least T times" via a plain ``groupBy`` shuffles one row per DISTINCT
key per input partition — and corpus key spaces are heavy-tailed, so
the tail of near-singletons dominates the shuffle while contributing
nothing to the answer. A Count-Min Sketch (Cormode & Muthukrishnan,
2005) bounds the state to ``depth × width`` counters regardless of
key cardinality, and NEVER undercounts — so keys whose sketched
minimum falls below T are provably below T and can be dropped
map-side before any shuffle. Survivors (the true head plus an
overcount trickle) take an exact count, making the final answer
EXACT, not approximate — the same no-false-negative prefilter+verify
contract as the Bloom decontamination path
(operators/dedup.py bloom_prefilter).

Design mirror of :func:`..operators.dedup.bloom_words`: the sketch is
a SPARSE ``(row, idx, cnt)`` table (never a dense per-row array — a
dense array attached via crossJoin(broadcast) copies itself into
every probed row inside the BroadcastNestedLoopJoin; measured ~60×
slower on the Bloom twin), built with one map-side-partial
aggregation whose shuffle is bounded by ``depth × width`` rows per
partition, and probed with ``depth`` broadcast HASH joins — constant
row width, whole-stage codegen, zero probe-side shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["cms_table", "cms_min_filter", "heavy_hitters", "heavy_ngrams"]

# Per-row hash salt: any fixed odd constant works; xxhash64's avalanche
# makes (key, row, salt) hashes independent across rows.
_CMS_SEED = 0x5851F42D


def cms_table(
    df: DataFrame,
    key_col: str,
    width: int,
    depth: int,
) -> DataFrame:
    """Count-Min Sketch BUILD over every occurrence row of ``df``:
    ``(row: int, idx: int, cnt: bigint)`` — at most ``depth × width``
    rows (4 × 65536 default ≈ 3 MB), one per non-empty counter.

    Each occurrence increments one counter per sketch row (``idx =
    xxhash64(key, row, salt) mod width``); the build is one explode +
    one ``count`` aggregation with map-side combine, so the shuffle
    carries at most ``depth × width`` rows per input partition no
    matter how many occurrences or distinct keys flow in. The table is
    eagerly ``localCheckpoint``-ed (one bounded job) before it is
    returned."""
    w, d = int(width), int(depth)
    if w < 1 or d < 1:
        raise ValueError("width and depth must be >= 1")
    key = F.col(key_col)
    out = (
        df.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(d - 1)),
                    lambda r: F.struct(
                        r.cast("int").alias("row"),
                        F.pmod(
                            F.xxhash64(key, r, F.lit(_CMS_SEED)), F.lit(w)
                        )
                        .cast("int")
                        .alias("idx"),
                    ),
                )
            ).alias("c")
        )
        .select("c.row", "c.idx")
        .groupBy("row", "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Checkpointed so every probe join broadcasts a leaf scan: the
    # probe's ``depth`` broadcast exchanges are alias-renamed copies
    # Spark cannot ReusedExchange, so each would re-execute the build.
    return out.localCheckpoint(eager=True)


def cms_min_filter(
    df: DataFrame,
    key_col: str,
    cms: DataFrame,
    threshold: int,
    width: int,
    depth: int,
) -> DataFrame:
    """Rows of ``df`` whose key's sketched minimum count is >=
    ``threshold`` — provably a SUPERSET of the rows whose key truly
    occurs >= threshold times in the sketched corpus (CMS never
    undercounts), so downstream exact verification loses nothing.

    One broadcast hash join per sketch row (inner — a missing counter
    row means zero occurrences hashed there, so the key is correctly
    dropped for any threshold >= 1) plus one running ``least``;
    map-side end to end, original columns preserved. ``df`` must not
    carry ``__cms_``-prefixed names."""
    w, d, t = int(width), int(depth), int(threshold)
    key = F.col(key_col)
    out = df
    mins: Column | None = None
    for r in range(d):
        out = out.withColumn(
            f"__cms_i{r}",
            F.pmod(
                F.xxhash64(key, F.lit(r), F.lit(_CMS_SEED)), F.lit(w)
            ).cast("int"),
        )
        cr = cms.filter(F.col("row") == r).select(
            F.col("idx").alias(f"__cms_idx{r}"),
            F.col("cnt").alias(f"__cms_cnt{r}"),
        )
        out = out.join(
            F.broadcast(cr),
            F.col(f"__cms_i{r}") == F.col(f"__cms_idx{r}"),
            "inner",
        )
        c = F.col(f"__cms_cnt{r}")
        mins = c if mins is None else F.least(mins, c)
    return out.filter(mins >= F.lit(t)).select(*df.columns)


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold: int,
    width: int = 1 << 16,
    depth: int = 4,
) -> DataFrame:
    """EXACT keys occurring >= ``threshold`` times, with their exact
    counts: ``(<key_col>, n_count)`` — identical to
    ``df.groupBy(key).count().filter(count >= threshold)``, but the
    long tail never reaches the shuffle.

    One pass: every occurrence row probes the sketch map-side
    (:func:`cms_min_filter`); only occurrences of candidate keys (the
    true head plus the overcount trickle) enter the exact
    map-side-partial ``groupBy``, whose final ``>= threshold`` filter
    removes the trickle. Choose ``width`` ≳ total_occurrences /
    threshold so the expected per-counter collision mass stays below
    the threshold and the trickle stays small; correctness never
    depends on it."""
    t = int(threshold)
    if t < 1:
        raise ValueError("threshold must be >= 1")
    cms = cms_table(df.select(key_col), key_col, width, depth)
    return (
        cms_min_filter(df, key_col, cms, t, width, depth)
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_count"))
        .filter(F.col("n_count") >= F.lit(t))
    )


def heavy_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: int,
    width: int = 1 << 16,
    depth: int = 4,
) -> DataFrame:
    """Word-``n``-grams occurring >= ``threshold`` times corpus-wide,
    exact counts — ``(ngram, n_count)``, bit-identical to
    :func:`..functions.text.ngram_counts` with
    ``min_count=threshold``, via the sketch path (the corpus-
    inspection / boilerplate-discovery shape where the trigram key
    space is corpus-sized but the head is what you're after)."""
    from ..functions.text import ngram_explode

    return heavy_hitters(
        ngram_explode(df, id_col, text_col, int(n)),
        "ngram",
        threshold,
        width,
        depth,
    )
