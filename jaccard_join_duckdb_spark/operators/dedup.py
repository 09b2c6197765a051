"""Deduplication + decontamination operators for training-data
pipelines.

Beyond-reference surface (BASELINE.json north star): exact dedup,
MinHash + LSH near-dup (with a persistent/bucketed query-vs-corpus
index), SimHash near-dup, n-gram Jaccard near-dup (the reference join
re-used as a dedup primitive), asymmetric containment joins
(near-subset/excerpt detection), benchmark decontamination in both
the set-containment and verbatim-n-gram-overlap forms (each with a
prebuilt static-benchmark index for streaming ingests), and
connected-components cluster assignment. All are pure DataFrame
transforms; hashes are engine-portable (polynomial
:func:`..functions.text.poly_hash`, or xxhash64 key compression whose
outputs never surface in results) so every step can be replicated in
DuckDB SQL for the correctness oracle.

Scale design:
- exact dedup: single hash-groupBy (map-side partial agg).
- minhash: one shuffle to build signatures (groupBy id×band with
  partial min), one equi-join on (band, signature) — candidates never
  materialize on the driver; verification is a token equi-join.
- simhash: fingerprints via bit-vote aggregation; candidate blocking
  on 8-bit chunks (pigeonhole: hamming <= 3 over 31 bits guarantees a
  shared chunk), verification via bit_count(xor).
- containment / n-gram joins: lossless pigeonhole prefix filters and
  hashed-shingle equi-joins — never all-pairs, never pairs×tokens.
"""

from __future__ import annotations

import operator
import random
from dataclasses import dataclass
from fractions import Fraction
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from ..functions.text import poly_hash
from ..tokenizers import Tokenizer, WhitespaceTokzr
from .jaccard import (
    _MAX_BITSET_VOCAB,
    _MAX_BROADCAST_VERIFY_TOKENS,
    _bitset_suffix_overlap,
    _doc_bitsets,
    _length_cond,
    _positional_cond,
    _probing_prefix_cond,
    _shuffle_partitions,
    _t_fraction,
)

__all__ = [
    "exact_duplicate_groups",
    "drop_exact_duplicates",
    "minhash_params",
    "minhash_near_duplicates",
    "weighted_jaccard_near_duplicates",
    "MinHashIndex",
    "minhash_index",
    "minhash_match",
    "read_minhash_index",
    "write_minhash_index",
    "simhash_fingerprints",
    "winnow_fingerprints",
    "winnow_duplicate_pairs",
    "simhash_near_duplicates",
    "ngram_jaccard_near_duplicates",
    "containment_join",
    "containment_match",
    "ContainmentIndex",
    "containment_index",
    "containment_match_indexed",
    "ngram_decontaminate",
    "NgramIndex",
    "ngram_index",
    "ngram_decontaminate_indexed",
    "bloom_words",
    "bloom_prefilter",
    "bloom_ngram_decontaminate",
    "BloomNgramIndex",
    "bloom_ngram_index",
    "bloom_ngram_decontaminate_indexed",
    "connected_components",
    "keep_cluster_representatives",
    "duplicated_spans",
    "duplicated_span_stats",
]

MERSENNE31 = 2147483647

# connected_components: broadcast the per-round label table into the
# edge join when the (constant) node count proves it bounded — ~16 B
# a row, so 2M labels ≈ 32 MB, the same budget class as the jaccard
# verification attach gate. Above the cap the sort-merge stays.
_CC_BROADCAST_MAX_LABELS = 2_000_000

# connected_components: run the whole hash-min fixpoint vectorized on
# the driver when the symmetric edge list is bounded — 4M (u, v) longs
# ≈ 64 MB through Arrow, the same budget class as the per-round label
# broadcast above. Above the cap the BSP rounds below are the plan.
_CC_DRIVER_MAX_EDGES = 4_000_000

# Bitset verification pays per-pair 2×n_words long columns in the
# attach joins; past ~8 words (512-token vocab) the wide rows fall out
# of whole-stage codegen and the driver spends ~1 s per call just
# building the masked-popcount expression tree — there the compiled
# array_intersect over the same distinct token/tid table wins
# (round-11 measurement at dedup_ngram's 37-word regime: 2.7 s vs
# 0.9 s per iteration). Below the cap the bitset stays ~8× faster
# than per-pair array_intersect (the round-8 measurement that
# introduced it).
_MAX_BITSET_WORDS = 8

# A/B toggle (tools/bench_ab.py): False forces the generic banded
# minhash path even for small vocabularies. The shipped default is
# the bench-context A/B winner (round 12, VERDICT r11 #1:
# dedup_minhash 4.19 s fused vs 4.39 s generic, dedup_canonical
# 5.21 s vs 5.98 s — interleaved inside the full warmed bench list,
# min-of-3, rows identical in both arms).
_MINHASH_FUSED = True

# SHUFFLE_HASH hint on the ngram pipeline's prefix candidate
# self-join (guide §3.1): the join key is a <= 4096-value tid, so the
# sort-merge plan pays two full sorts of the prefix streams that a
# shuffled-hash build skips. Bench-context A/B (round 12,
# tools/bench_ab.py, min-of-3, rows identical): dedup_ngram 3.96 s
# SHJ vs 4.24 s SMJ at 2,333 keys (~73 per shuffle partition).
# Applied only when (a) the collected dfreq proves the build side
# bounded (sum df <= _MAX_BROADCAST_VERIFY_TOKENS — the same budget
# the verify attach broadcasts use), AND (b) key density clears
# _SHJ_MIN_KEYS_PER_PARTITION: the jaccard-side A/B measured a 3.5×
# LOSS at 31 keys / 32 partitions (<=1 key per partition leaves one
# giant hash chain per partition, where sorted-run merging streams
# the same groups fine) and a tie at ~15 keys/partition. At corpus
# scale the gracefully-spilling sort-merge stays.
_NGRAM_CAND_SHUFFLE_HASH = True
_SHJ_MIN_KEYS_PER_PARTITION = 32


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_duplicate_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Groups of byte-identical texts: ``(text_hash, n_dups,
    keep_id)`` for groups with >= 2 members. keep_id = min id."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per identical text (distributed: groupBy
    + semi-join, no windows over the full corpus needed)."""
    keep = (
        df.select(F.md5(F.col(text_col)).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int, int]]:
    """Deterministic (i, a, b) triples for h_i(x) = (a*x + b) mod p.
    Shared by the Spark operator and the SQL oracle generator."""
    rng = random.Random(seed)
    return [
        (i, rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for i in range(num_hashes)
    ]


def _token_sets(
    df: DataFrame, id_col: str, text_col: str, tokenizer: Tokenizer
) -> DataFrame:
    """Distinct lowercased (id, token) pairs — clean set semantics
    for dedup (unlike the reference join's case-quirk, documented)."""
    return (
        tokenizer.tokenize(df, id_col, text_col)
        .select("id", "token")
        .distinct()
    )


def _minhash_band_sigs(
    toks: DataFrame, num_hashes: int, bands: int, seed: int
) -> DataFrame:
    """Distinct ``(id, token)`` rows → LSH band signatures
    ``(id, band, sig)``; sig is the xxhash64 of the comma-joined
    minhash row of the band — signatures are only ever compared for
    EQUALITY (bucket joins), so an 8-byte long key shuffles/sorts ~5×
    narrower than the raw string. A 64-bit collision could only add a
    spurious candidate pair, which exact-Jaccard verification then
    scores truthfully; a verified pair that additionally collides with
    the oracle's string-sig bucketing is ~2^-64 — the same accepted
    noise floor as the hashed n-gram tokens. Deterministic in
    (num_hashes, bands, seed) so signatures computed at different
    times — static corpus index vs streaming micro-batch —
    bucket-join correctly."""
    rows_per_band = num_hashes // bands
    # poly_hash folds per character in interpreted mode (higher-order
    # fn) — hash each DISTINCT token once and join back instead of
    # hashing every (id, token) row.
    tok_h = toks.select("token").distinct().select(
        "token", poly_hash(F.col("token")).alias("h")
    )
    base = toks.join(tok_h, "token").select("id", "h")
    # All num_hashes permutation minima in ONE aggregation keyed by id:
    # 32 compiled min() columns over the token-hash rows, with map-side
    # partial aggregation — versus exploding num_hashes rows per token
    # (a num_hashes× bigger shuffle) and aggregating twice. Per-id
    # output is a single 32-long row regardless of document size.
    mins = base.groupBy("id").agg(
        *[
            F.min(
                (F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MERSENNE31)
            ).alias(f"m{i}")
            for i, a, b in minhash_params(num_hashes, seed)
        ]
    )
    # One (id, band, sig) row per band: sig = xxhash64 of the
    # comma-joined minima in permutation order — byte-identical input
    # string to the previous collect_list/array_sort formulation.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{i}").cast("string")
                            for i in range(
                                b * rows_per_band, (b + 1) * rows_per_band
                            )
                        ],
                    )
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return mins.select("id", F.explode(band_structs).alias("bs")).select(
        "id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def _minhash_fused_bitset(
    toks: DataFrame,
    vocab_rows: list,
    num_hashes: int,
    bands: int,
    seed: int,
    threshold: float,
) -> DataFrame:
    """Small-vocab fused pipeline for :func:`minhash_near_duplicates`:
    the collected vocabulary becomes ONE literal broadcast dim
    carrying ``(token, tid, h)`` (``h`` is the same Spark-evaluated
    :func:`poly_hash` expression the generic path computes, on the
    literal frame — bit-identical values), and ONE per-id aggregation
    yields the ``num_hashes`` permutation minima, the set size, and
    the verification bitset words. Band signatures, the bucket
    self-join, and the threshold filter are expression-identical to
    the generic path (same xxhash64 of the comma-joined minima, same
    popcount overlap — which is tid-permutation invariant), so the
    output is byte-identical; only the separate tok_h distinct+join,
    doc-bitset aggregation, and verify-side vocab job are gone."""
    rows_per_band = num_hashes // bands
    n_words = (len(vocab_rows) + 63) // 64
    spark = toks.sparkSession
    dim = spark.createDataFrame(
        [(tk, i + 1) for i, tk in enumerate(sorted(r[0] for r in vocab_rows))],
        T.StructType(
            [
                T.StructField("token", toks.schema["token"].dataType, False),
                T.StructField("tid", T.IntegerType(), False),
            ]
        ),
    ).select("token", "tid", poly_hash(F.col("token")).alias("h"))
    base = toks.join(F.broadcast(dim), "token").select("id", "h", "tid")
    min_cols = [
        F.min(
            (F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MERSENNE31)
        ).alias(f"m{i}")
        for i, a, b in minhash_params(num_hashes, seed)
    ]
    bit_cols = [
        F.bit_or(
            F.when(
                (F.col("tid") > 64 * i) & (F.col("tid") <= 64 * (i + 1)),
                F.expr(f"shiftleft(cast(1 as bigint), tid - 1 - {64 * i})"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias(f"b{i}")
        for i in range(n_words)
    ]
    per_doc = (
        base.groupBy("id")
        .agg(*min_cols, F.count(F.lit(1)).alias("sz"), *bit_cols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{i}").cast("string")
                            for i in range(
                                b * rows_per_band, (b + 1) * rows_per_band
                            )
                        ],
                    )
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    band_sig = per_doc.select("id", F.explode(band_structs).alias("bs")).select(
        "id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    L = band_sig.alias("L")
    R = band_sig.alias("R")
    cands = (
        L.join(
            R,
            (F.col("L.band") == F.col("R.band"))
            & (F.col("L.sig") == F.col("R.sig"))
            & (F.col("L.id") < F.col("R.id")),
        )
        .select(F.col("L.id").alias("lid"), F.col("R.id").alias("rid"))
        .distinct()
    )
    ov_expr = F.bit_count(F.col("lb0").bitwiseAND(F.col("rb0")))
    for i in range(1, n_words):
        ov_expr = ov_expr + F.bit_count(
            F.col(f"lb{i}").bitwiseAND(F.col(f"rb{i}"))
        )
    ov = (
        cands.join(
            per_doc.select(
                F.col("id").alias("lid"),
                F.col("sz").alias("lsz"),
                *[F.col(f"b{i}").alias(f"lb{i}") for i in range(n_words)],
            ),
            "lid",
        )
        .join(
            per_doc.select(
                F.col("id").alias("rid"),
                F.col("sz").alias("rsz"),
                *[F.col(f"b{i}").alias(f"rb{i}") for i in range(n_words)],
            ),
            "rid",
        )
        .select("lid", "rid", ov_expr.alias("ov"), "lsz", "rsz")
        .filter(F.col("ov") >= 1)
    )
    return _jaccard_threshold_filter(ov, threshold)


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    tokenizer: Tokenizer | None = None,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    shingle → minhash (num_hashes perms) → band (bands × rows/band)
    → bucket equi-join → verify exact Jaccard >= threshold.
    Output: ``(l_id, r_id, jaccard)`` with jaccard rounded to 6.
    Pairs whose every band signature differs are missed (standard LSH
    recall tradeoff — tune bands/num_hashes).
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    tokenizer = tokenizer or WhitespaceTokzr()
    # Read by signatures AND verification (arrays + sizes) — persist
    # so the tokenize+distinct chain runs once.
    toks = _token_sets(df, id_col, text_col, tokenizer).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Bounded vocabulary probe (one job, materializes the toks cache).
    # Small vocabularies take a FUSED pipeline: one literal broadcast
    # dim carries (tid, h), and ONE groupBy(id) aggregation produces
    # the minhash minima, the set size, AND the verification bitset —
    # versus the generic path's separate tok_h distinct+join, docbits
    # aggregation, and verify-side vocab job (round 11: dedup_minhash
    # 3.3 → 2.6 s at sf0.1). Large vocabularies keep the generic
    # shape, passing vocab_n so the verify skips its own gate job.
    bit_cap = min(_MAX_BITSET_VOCAB, 64 * _MAX_BITSET_WORDS)
    vocab_rows = toks.select("token").distinct().limit(bit_cap + 1).collect()
    vocab_n = len(vocab_rows)
    if _MINHASH_FUSED and 0 < vocab_n <= bit_cap:
        out = _minhash_fused_bitset(
            toks, vocab_rows, num_hashes, bands, seed, threshold
        )
        return out.select(
            F.col("lid").alias("l_id"), F.col("rid").alias("r_id"), "jaccard"
        )
    band_sig = _minhash_band_sigs(toks, num_hashes, bands, seed).persist(
        # Both sides of the bucket self-join read this — without the
        # persist the whole tokenize→hash→sign chain runs twice.
        StorageLevel.MEMORY_AND_DISK
    )
    L = band_sig.alias("L")
    R = band_sig.alias("R")
    cands = (
        L.join(
            R,
            (F.col("L.band") == F.col("R.band"))
            & (F.col("L.sig") == F.col("R.sig"))
            & (F.col("L.id") < F.col("R.id")),
        )
        .select(F.col("L.id").alias("lid"), F.col("R.id").alias("rid"))
        .distinct()
    )
    return _verify_jaccard(
        cands, toks, threshold, vocab_n=vocab_n,
        # Bounded vocab (only reachable with the fused path toggled
        # off): hand the already-collected vocabulary to the verify so
        # it builds the literal tid dim with no extra job.
        vocab_tokens=(
            [r[0] for r in vocab_rows] if vocab_n <= bit_cap else None
        ),
    ).select(
        F.col("lid").alias("l_id"), F.col("rid").alias("r_id"), "jaccard"
    )


@dataclass
class MinHashIndex:
    """Precomputed LSH index over a static corpus: band signatures
    for bucketing, the distinct token sets, and the per-document
    token ARRAYS for exact verification — all persisted. Build once
    with :func:`minhash_index`, then match any number of query
    batches (e.g. streaming micro-batches) with :func:`minhash_match`
    — the corpus is never re-tokenized, re-hashed, or re-aggregated
    (``tok_arrs`` is what keeps per-batch verification free of
    corpus-wide work; see :func:`minhash_match`)."""

    band_sigs: DataFrame
    toks: DataFrame
    tok_arrs: DataFrame
    tokenizer: Tokenizer
    num_hashes: int
    bands: int
    seed: int

    def unpersist(self) -> None:
        self.band_sigs.unpersist()
        self.toks.unpersist()
        self.tok_arrs.unpersist()


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokenizer: Tokenizer | None = None,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> MinHashIndex:
    """Build the static-corpus side of query-vs-corpus near-dup
    matching. At scale, persist is the minimum; for a long-lived
    ingest pipeline persist the index with
    :func:`write_minhash_index` (tables bucketed by (band, sig) /
    id) so every micro-batch joins without re-hashing or shuffling
    the corpus signatures."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    tokenizer = tokenizer or WhitespaceTokzr()
    toks = _token_sets(df, id_col, text_col, tokenizer).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    band_sigs = _minhash_band_sigs(toks, num_hashes, bands, seed).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Per-document token arrays, aggregated ONCE at build time: match
    # calls verify candidates by joining these rows — without this, a
    # streaming dedup would re-aggregate the full corpus token table
    # every micro-batch.
    tok_arrs = (
        toks.groupBy("id")
        .agg(F.collect_list("token").alias("arr"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return MinHashIndex(
        band_sigs=band_sigs,
        toks=toks,
        tok_arrs=tok_arrs,
        tokenizer=tokenizer,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
    )


def write_minhash_index(
    index: MinHashIndex, name: str, num_buckets: int = 8
) -> str:
    """Persist the index as co-bucketed catalog tables — the
    long-lived-ingest layout: ``{name}_sigs`` bucketed by
    ``(band, sig)`` (the candidate join's keys) and ``{name}_toks``
    bucketed by ``id`` (the verification side groups token rows per
    document). A corpus bucketed this way joins every micro-batch
    without re-hashing or shuffling the corpus signatures — the
    MinHash twin of
    :func:`..similarity.write_embedding_lsh_index` (whose plan
    evidence tool, ``tools/index_bucket_bench.py``, demonstrates the
    shared shape). Load with :func:`read_minhash_index`."""
    from ..sources import write_bucketed

    nb = int(num_buckets)
    write_bucketed(
        index.band_sigs.repartition(nb, "band", "sig"),
        f"{name}_sigs", ["band", "sig"], nb,
    )
    write_bucketed(
        index.toks.repartition(nb, "id"), f"{name}_toks", ["id"], nb
    )
    # Persist the build parameters: signatures are deterministic in
    # them, so loading with DIFFERENT parameters silently yields
    # ~zero matches — the meta row lets read_minhash_index default to
    # the truth and hard-fail on a mismatch instead.
    spark = index.band_sigs.sparkSession
    spark.createDataFrame(
        [(
            int(index.num_hashes), int(index.bands), int(index.seed),
            type(index.tokenizer).__name__,
        )],
        "num_hashes int, bands int, seed int, tokenizer string",
    ).write.mode("overwrite").saveAsTable(f"{name}_meta")
    return name


def _meta_param(given, meta_val, default, label: str) -> int:
    """Resolve an index parameter: explicit value must match the
    persisted build-time value (silent mismatch = silent recall 0);
    otherwise the meta value, else the legacy default."""
    if given is not None:
        if meta_val is not None and int(given) != int(meta_val):
            raise ValueError(
                f"{label}={given} does not match the index's build-time "
                f"{label}={meta_val} — matching with mismatched parameters "
                "produces no candidates"
            )
        return int(given)
    return int(meta_val) if meta_val is not None else int(default)


def read_minhash_index(
    spark,
    name: str,
    tokenizer: Tokenizer | None = None,
    num_hashes: int | None = None,
    bands: int | None = None,
    seed: int | None = None,
) -> MinHashIndex:
    """Load an index persisted by :func:`write_minhash_index`.
    Parameters default to the persisted build-time values
    (``{name}_meta``); explicitly passed values are validated against
    them (a mismatch raises — it would silently produce ~zero
    matches). The tokenizer is validated by class name only (its
    constructor arguments are the caller's to reproduce). Token
    arrays are rebuilt from the id-bucketed token table — a
    ``groupBy("id")`` that the bucketed scan satisfies with NO
    Exchange — and persisted for the session."""
    meta = None
    if spark.catalog.tableExists(f"{name}_meta"):
        meta = spark.table(f"{name}_meta").collect()[0]
    tokenizer = tokenizer or WhitespaceTokzr()
    if meta is not None and type(tokenizer).__name__ != meta.tokenizer:
        raise ValueError(
            f"tokenizer {type(tokenizer).__name__} does not match the "
            f"index's build-time tokenizer {meta.tokenizer}"
        )
    toks = spark.table(f"{name}_toks")
    tok_arrs = (
        toks.groupBy("id")
        .agg(F.collect_list("token").alias("arr"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return MinHashIndex(
        band_sigs=spark.table(f"{name}_sigs"),
        toks=toks,
        tok_arrs=tok_arrs,
        tokenizer=tokenizer,
        num_hashes=_meta_param(
            num_hashes, meta and meta.num_hashes, 32, "num_hashes"
        ),
        bands=_meta_param(bands, meta and meta.bands, 8, "bands"),
        seed=_meta_param(seed, meta and meta.seed, 42, "seed"),
    )


def minhash_match(
    query_df: DataFrame,
    index: MinHashIndex,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """Near-duplicates of ``query_df`` documents against the indexed
    corpus: ``(q_id, c_id, jaccard)``. LSH-bucket candidates (query
    signatures ⋈ index signatures on (band, sig)) then exact Jaccard
    between the query's token sets and the corpus's. Same recall
    contract as :func:`minhash_near_duplicates`: a pair whose every
    band differs is missed. Self-matches (same id on both sides when
    the query overlaps the corpus) are not filtered — callers that
    re-check an already-indexed document should drop
    ``q_id == c_id``.

    Scale: every per-call aggregation touches only the QUERY batch —
    corpus signatures and token arrays come precomputed from the
    index, and verification is ``size(array_intersect(qa, ca))`` on
    the candidate pairs (compiled array intrinsics, exact on distinct
    token sets). A bitset plan would be query-dependent (token-id
    assignment spans the union vocabulary), forcing a full-corpus
    re-aggregation per micro-batch — exactly what an index must not
    do.
    """
    q_toks = _token_sets(query_df, id_col, text_col, index.tokenizer)
    q_sigs = _minhash_band_sigs(
        q_toks, index.num_hashes, index.bands, index.seed
    )
    Q = q_sigs.alias("Q")
    C = index.band_sigs.alias("C")
    cands = (
        Q.join(
            C,
            (F.col("Q.band") == F.col("C.band"))
            & (F.col("Q.sig") == F.col("C.sig")),
        )
        .select(F.col("Q.id").alias("lid"), F.col("C.id").alias("rid"))
        .distinct()
    )
    q_arrs = q_toks.groupBy("id").agg(F.collect_list("token").alias("arr"))
    ov = (
        cands.join(
            q_arrs.select(F.col("id").alias("lid"), F.col("arr").alias("la")),
            "lid",
        )
        .join(
            index.tok_arrs.select(
                F.col("id").alias("rid"), F.col("arr").alias("ra")
            ),
            "rid",
        )
        .select(
            "lid",
            "rid",
            F.size(F.array_intersect("la", "ra")).alias("ov"),
            F.size("la").alias("lsz"),
            F.size("ra").alias("rsz"),
        )
        .filter(F.col("ov") >= 1)
    )
    return _jaccard_threshold_filter(ov, threshold).select(
        F.col("lid").alias("q_id"), F.col("rid").alias("c_id"), "jaccard"
    )


def _verify_jaccard(
    cands: DataFrame,
    toks: DataFrame,
    threshold: float,
    r_toks: DataFrame | None = None,
    vocab_n: int | None = None,
    vocab_tokens: list | None = None,
) -> DataFrame:
    """Exact Jaccard over candidate pairs (overlap machinery in
    :func:`_verify_overlap`): ``jaccard = ov / (lsz + rsz - ov)``
    rounded to 6, threshold-filtered."""
    return _jaccard_threshold_filter(
        _verify_overlap(
            cands, toks, r_toks=r_toks, vocab_n=vocab_n,
            vocab_tokens=vocab_tokens,
        ),
        threshold,
    )


def _verify_overlap(
    cands: DataFrame,
    toks: DataFrame,
    r_toks: DataFrame | None = None,
    vocab_n: int | None = None,
    vocab_tokens: list | None = None,
) -> DataFrame:
    """Exact set-overlap counts over candidate pairs:
    ``(lid, rid, ov, lsz, rsz)`` with ``ov >= 1``. ``lid`` draws from
    ``toks``; ``rid`` from ``r_toks`` when given (query-vs-corpus
    matching), else from ``toks`` (self dedup). Shared by the Jaccard
    verifiers and :func:`containment_join` (different final metric,
    same overlap plan).

    Small vocabularies (<= _MAX_BITSET_VOCAB distinct tokens): each
    document's token set is packed into a few 64-bit words and
    ``ov = Σ popcount(lb_i & rb_i)`` — pure codegen-able long
    arithmetic. Large vocabularies: per-document token arrays and a
    compiled ``size(array_intersect(la, ra))``. Both beat exploding
    pairs × tokens into a pairs·|x| intermediate and re-aggregating
    (measured ~5× slower at sf0.1 where 8M candidates × ~23 tokens =
    190M exploded rows). Exact because ``toks`` rows are distinct per
    id (set semantics). The ``ov >= 1`` filter keeps the historical
    contract (a pair with zero overlap is not reported even at
    threshold 0). At cluster scale the doc side is Catalyst-planned
    (broadcast when small, shuffle join otherwise)."""
    two_sided = r_toks is not None
    r_toks = toks if r_toks is None else r_toks
    vocab = toks.select("token")
    if two_sided:
        vocab = vocab.union(r_toks.select("token"))
    vocab = vocab.distinct()
    # One driver-side gate job; callers that already aggregated the
    # vocabulary pass its size to skip it. limit(MAX+1) early-stops on
    # huge vocabularies where only "too big" matters; COLLECTING the
    # (<= 4097, bounded) gate rows instead of counting them means the
    # same job also yields the token dim — previously the
    # union+distinct subtree re-executed INSIDE the verify job to
    # rank tids (a window over an unpersisted aggregate), ~1.5 s of
    # the sf0.1 decontaminate wall for a 31-token vocabulary
    # (round 11). tid = rank in the driver-sorted token order; the
    # bitset overlap is a popcount of the intersection, invariant to
    # the tid permutation, so the output cannot depend on the sort.
    # ``vocab_tokens``: callers that already hold the COMPLETE bounded
    # vocabulary (e.g. from their own gate probe) pass its values so
    # the literal tid dim is built with zero extra jobs here.
    vocab_rows = None
    if vocab_tokens is not None:
        vocab_rows = list(vocab_tokens)
        vocab_n = len(vocab_rows)
    elif vocab_n is None:
        rows = vocab.limit(_MAX_BITSET_VOCAB + 1).collect()
        vocab_n = len(rows)
        vocab_rows = [r[0] for r in rows]
    if 0 < vocab_n <= min(_MAX_BITSET_VOCAB, 64 * _MAX_BITSET_WORDS):
        n_words = (vocab_n + 63) // 64
        if vocab_rows is not None:
            tdim = toks.sparkSession.createDataFrame(
                [(tk, i + 1) for i, tk in enumerate(sorted(vocab_rows))],
                T.StructType(
                    [
                        T.StructField(
                            "token", toks.schema["token"].dataType, False
                        ),
                        T.StructField("tid", T.IntegerType(), False),
                    ]
                ),
            )
        else:
            tdim = vocab.withColumn(
                "tid", F.row_number().over(Window.orderBy("token"))
            )
        bit_cols = [
            F.bit_or(
                F.when(
                    (F.col("tid") > 64 * i) & (F.col("tid") <= 64 * (i + 1)),
                    F.expr(f"shiftleft(cast(1 as bigint), tid - 1 - {64 * i})"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias(f"b{i}")
            for i in range(n_words)
        ]

        def docbits(side_toks: DataFrame) -> DataFrame:
            return (
                side_toks.join(F.broadcast(tdim), "token")
                .groupBy("id")
                .agg(F.count(F.lit(1)).alias("sz"), *bit_cols)
            )

        l_bits = docbits(toks)
        r_bits = l_bits if not two_sided else docbits(r_toks)
        ov_expr = F.bit_count(F.col("lb0").bitwiseAND(F.col("rb0")))
        for i in range(1, n_words):
            ov_expr = ov_expr + F.bit_count(
                F.col(f"lb{i}").bitwiseAND(F.col(f"rb{i}"))
            )
        ov = (
            cands.join(
                l_bits.select(
                    F.col("id").alias("lid"),
                    F.col("sz").alias("lsz"),
                    *[F.col(f"b{i}").alias(f"lb{i}") for i in range(n_words)],
                ),
                "lid",
            )
            .join(
                r_bits.select(
                    F.col("id").alias("rid"),
                    F.col("sz").alias("rsz"),
                    *[F.col(f"b{i}").alias(f"rb{i}") for i in range(n_words)],
                ),
                "rid",
            )
            .select("lid", "rid", ov_expr.alias("ov"), "lsz", "rsz")
            .filter(F.col("ov") >= 1)
        )
        return ov

    def tok_arrays(side_toks: DataFrame) -> DataFrame:
        return side_toks.groupBy("id").agg(
            F.collect_list("token").alias("arr")
        )

    l_arrs = tok_arrays(toks)
    r_arrs = l_arrs if not two_sided else tok_arrays(r_toks)
    ov = (
        cands.join(
            l_arrs.select(F.col("id").alias("lid"), F.col("arr").alias("la")),
            "lid",
        )
        .join(
            r_arrs.select(F.col("id").alias("rid"), F.col("arr").alias("ra")),
            "rid",
        )
        .select(
            "lid",
            "rid",
            F.size(F.array_intersect("la", "ra")).alias("ov"),
            F.size("la").alias("lsz"),
            F.size("ra").alias("rsz"),
        )
        .filter(F.col("ov") >= 1)
    )
    return ov


def _jaccard_threshold_filter(ov: DataFrame, threshold: float) -> DataFrame:
    return (
        ov.withColumn(
            "jaccard",
            F.round(
                F.col("ov").cast("double")
                / (F.col("lsz") + F.col("rsz") - F.col("ov")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 62


def simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokenizer: Tokenizer | None = None,
) -> DataFrame:
    """62-bit SimHash per document: per-bit vote sum over token
    hashes (+1 if bit set, -1 otherwise), bit = 1 iff vote > 0.

    The 62-bit token hash packs two independent 31-bit polynomial
    hashes (multipliers 31 and 37): ``h = h31 + h37 * 2^31``. A
    single 64-bit mod-prime fold is NOT engine-portable (the
    multiply overflows BIGINT in DuckDB, which raises instead of
    wrapping), while each 31-bit fold stays exact in both engines —
    and 62 fingerprint bits keep pairwise collision rates sane at
    100 TB corpus sizes where 31 bits would saturate.

    Bit extraction uses exact integer math ``(h div 2^j) % 2``
    (portable to DuckDB as ``h // 2^j``) rather than shift operators,
    which Spark only accepts with literal shift amounts.
    """
    tokenizer = tokenizer or WhitespaceTokzr()
    toks = _token_sets(df, id_col, text_col, tokenizer)
    tok_h = toks.select("token").distinct().select(
        "token",
        (
            poly_hash(F.col("token"))
            + poly_hash(F.col("token"), mult=37) * F.lit(2147483648)
        ).alias("h"),
    )
    th = toks.join(tok_h, "token").select("id", "h")
    # All SIMHASH_BITS per-bit vote sums in ONE aggregation keyed by
    # id — 62 compiled sum() columns with map-side partial aggregation
    # — instead of exploding 62 rows per (id, token) and shuffling the
    # 62× blow-up into a groupBy(id, bit) (the _minhash_band_sigs
    # min-column shape). Identical integer arithmetic per bit:
    # vote_j = Σ_tokens ((h div 2^j) % 2) * 2 - 1, bit j set iff
    # vote_j > 0 — so fingerprints are byte-identical to the exploded
    # formulation (and to the oracle SQL).
    vote_cols = [
        F.sum(
            F.expr(f"((h div {1 << j}) % 2) * 2 - 1")
        ).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    votes = th.groupBy("id").agg(*vote_cols)
    sim = reduce(
        operator.add,
        [
            F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(
                F.lit(0).cast("long")
            )
            for j in range(SIMHASH_BITS)
        ],
    )
    return votes.select("id", sim.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    tokenizer: Tokenizer | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidate blocking: split the 62-bit fingerprint into four 16-bit
    chunks; by pigeonhole any pair within hamming 3 shares at least
    one identical chunk, so the blocked equi-join loses no pairs for
    max_hamming <= 3 (larger thresholds trade recall, documented).
    Output: ``(l_id, r_id, hamming)``.
    """
    fp = simhash_fingerprints(df, id_col, text_col, tokenizer)
    chunks = F.array(*[F.lit(c) for c in range(4)])
    blocked = (
        fp.select("id", "simhash", F.explode(chunks).alias("c"))
        .withColumn("p2", F.pow(F.lit(2.0), F.col("c") * 16).cast("long"))
        .withColumn("chunk", F.expr("(simhash div p2) % 65536"))
        # Both sides of the chunk self-join read this — persist or the
        # fingerprint chain runs twice.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    L = blocked.alias("L")
    R = blocked.alias("R")
    return (
        L.join(
            R,
            (F.col("L.c") == F.col("R.c"))
            & (F.col("L.chunk") == F.col("R.chunk"))
            & (F.col("L.id") < F.col("R.id")),
        )
        .select(
            F.col("L.id").alias("l_id"),
            F.col("R.id").alias("r_id"),
            F.bit_count(
                F.col("L.simhash").bitwiseXOR(F.col("R.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= F.lit(int(max_hamming)))
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup (reference join as a dedup primitive)
# --------------------------------------------------------------------------

def _round_up_slack(t: float) -> float:
    """Candidate-bound threshold covering round-to-6 boundary pairs.

    The dedup output contract keeps a pair when ``round(J, 6) >= t``
    (mirroring the oracle SQL), so a pair with true ``J`` as low as
    ``t - 5e-7`` must still reach verification. Prefix/length/
    positional candidate bounds are sound for ``J >= t`` only — run
    them at ``t - 1e-6`` instead. The relaxed literal has denominator
    1e6 (> _MAX_EXACT_DEN), so the bound conditions evaluate on the
    double path; its 1e-6 slack dwarfs double roundoff, keeping the
    superset guarantee."""
    return round(float(t) - 1e-6, 6) if t > 1e-6 else 0.0


def _ngram_bitset_pipeline(
    toks: DataFrame, dfreq_rows: list, vocab_n: int, threshold: float
) -> DataFrame:
    """Small-vocab fast path for :func:`ngram_jaccard_near_duplicates`:
    one persisted id-partitioned token table feeds both candidate
    generation and bitset verification, and the exact overlap is
    recovered as ``sfx + pfxOverlap - 1`` (see jaccard._jaccard_score:
    under a shared global token order every common token before the
    last prefix match is inside both prefixes, every one after it
    inside both suffixes) instead of re-intersecting full token sets.

    Plan shape (vs the generic path): the tiny (≤4096-row) doc-freq
    dim broadcasts a dense rank ``tid``; the per-doc ``pos`` window
    shuffles the token table by id ONCE, and ``_doc_bitsets``'s
    groupBy(id) reuses that partitioning with no further Exchange. The
    PPJoin positional filter prunes prefix-match rows at candidate
    generation, before the (wide) bitset join rows are built.

    Round 12: the caller's bounded gate job now COLLECTS the doc-freq
    rows instead of counting them, so the tid dim is a literal built
    by the same driver-side ``(df, token)`` sort the old in-plan
    ``row_number`` window used (token is unique in dfreq ⇒ total
    order ⇒ identical tids) — the broadcast subtree no longer
    re-executes the doc-frequency aggregation + a global window
    inside the main plan."""
    t = float(threshold)
    tc = _round_up_slack(t)
    n_words = (vocab_n + 63) // 64
    tdim = toks.sparkSession.createDataFrame(
        [
            (tok, i + 1)
            for i, (_, tok) in enumerate(
                sorted((r["df"], r["token"]) for r in dfreq_rows)
            )
        ],
        T.StructType(
            [
                T.StructField("token", toks.schema["token"].dataType, False),
                T.StructField("tid", T.IntegerType(), False),
            ]
        ),
    )
    tk = (
        toks.join(F.broadcast(tdim), "token")
        .select(
            "id",
            "len",
            "tid",
            F.row_number()
            .over(Window.partitionBy("id").orderBy("tid"))
            .alias("pos"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pfx = tk.filter(_probing_prefix_cond(F.col("len"), F.col("pos"), tc))
    shj = (
        _NGRAM_CAND_SHUFFLE_HASH
        and 0
        < sum(r["df"] for r in dfreq_rows)
        <= _MAX_BROADCAST_VERIFY_TOKENS
        and vocab_n
        >= _SHJ_MIN_KEYS_PER_PARTITION * _shuffle_partitions(toks)
    )
    L = pfx.alias("L")
    R = (pfx.hint("shuffle_hash") if shj else pfx).alias("R")
    cand = (
        L.join(
            R,
            (F.col("L.tid") == F.col("R.tid"))
            & (F.col("L.id") < F.col("R.id")),
        )
        .filter(
            _length_cond(F.col("L.len"), F.col("R.len"), tc)
            & _length_cond(F.col("R.len"), F.col("L.len"), tc)
            & _positional_cond(
                F.col("L.len"), F.col("L.pos"),
                F.col("R.len"), F.col("R.pos"), tc,
            )
        )
        .groupBy(
            F.col("L.id").alias("lid"),
            F.col("R.id").alias("rid"),
            F.col("L.len").alias("llen"),
            F.col("R.len").alias("rlen"),
        )
        .agg(
            *(
                [
                    F.max("L.tid").alias("tidstart"),
                    F.max("L.pos").alias("lmaxpos"),
                    F.max("R.pos").alias("rmaxpos"),
                ]
                if n_words <= _MAX_BITSET_WORDS
                else []
            ),
            F.count(F.lit(1)).alias("pfxoverlap"),
        )
        # No remaining-suffix pre-filter: it is provably vacuous after
        # _positional_cond at the same tc bound (see that docstring).
    )
    if n_words > _MAX_BITSET_WORDS:
        # Wide-bitset regime (round 11): past ~8 words the bitset
        # verify loses on BOTH sides of the boundary — the 2×n_words
        # long columns blow the join rows/projections out of
        # whole-stage codegen territory AND the driver pays ~1 s just
        # BUILDING the expression tree per call (measured at sf0.1
        # dedup_ngram, vocab 2,333 → 37 words: construction 1.10 s +
        # execution 1.6 s vs 0.19 s + 0.7 s for the compiled
        # array_intersect over the same persisted tid table). Exact
        # for the same reason as the bitset: tk rows are distinct per
        # (id, tid), so |array_intersect| IS the set overlap.
        arrs = tk.groupBy("id").agg(F.collect_list("tid").alias("arr"))
        ov = (
            cand.join(
                arrs.select(F.col("id").alias("lid"), F.col("arr").alias("la")),
                "lid",
            )
            .join(
                arrs.select(F.col("id").alias("rid"), F.col("arr").alias("ra")),
                "rid",
            )
            .select(
                "lid",
                "rid",
                F.size(F.array_intersect("la", "ra")).alias("ov"),
                F.col("llen").alias("lsz"),
                F.col("rlen").alias("rsz"),
            )
        )
        return _jaccard_threshold_filter(ov, t)
    docbits = _doc_bitsets(tk, n_words)
    ov = (
        cand.join(
            docbits.select(
                F.col("id").alias("lid"),
                *[F.col(f"b{i}").alias(f"lb{i}") for i in range(n_words)],
            ),
            "lid",
        )
        .join(
            docbits.select(
                F.col("id").alias("rid"),
                *[F.col(f"b{i}").alias(f"rb{i}") for i in range(n_words)],
            ),
            "rid",
        )
        .withColumn("sfx", _bitset_suffix_overlap(n_words))
        .select(
            "lid",
            "rid",
            (F.col("sfx") + F.col("pfxoverlap") - 1).alias("ov"),
            F.col("llen").alias("lsz"),
            F.col("rlen").alias("rsz"),
        )
    )
    return _jaccard_threshold_filter(ov, t)


def _prefix_candidates(
    toks: DataFrame, threshold: float, dfreq: DataFrame | None = None
) -> DataFrame:
    """AllPairs/PPJoin-style candidate pairs ``(lid, rid)`` with
    ``lid < rid`` from distinct ``(id, len, token)`` rows (``len`` =
    set cardinality |x|) — a guaranteed superset of every pair with
    Jaccard >= threshold, in clean numeric ordering (none of the
    reference join's pair-key quirks; exactness comes from the
    verification step that follows).

    Soundness: with all token sets ordered by the same global
    ``(df, token)`` order, any pair with J >= t shares a token within
    each side's first ``|x| - ceil(t|x|) + 1`` tokens (Xiao et al.,
    PPJoin); the un-ceiled ``len - pos + 1 >= len*t`` bound keeps a
    prefix at least that long, and the length / positional filters
    below are necessary conditions of ``O >= (|x|+|y|)t/(1+t)``, so
    every qualifying pair survives. At threshold 0 the prefix bound
    keeps every token and this degrades to the all-sharing-pairs
    join. Rare-token-first ordering makes prefixes collide as little
    as possible, which is what bounds the join fan-out on dense
    vocabularies (the shuffle is on prefix tokens only, ~(1-t) of
    the corpus instead of all of it).
    """
    # Tie-exact bounds (operators/jaccard.py "threshold bounds"):
    # a float bound can exceed the exact rational bound by an ulp,
    # shortening a prefix by one token exactly on the boundary and
    # silently losing a qualifying candidate the verification step
    # never sees. Additionally relaxed by the round-to-6 slack: the
    # output keeps pairs whose ROUNDED score reaches the threshold,
    # so bounds must admit J >= t - 5e-7 (see _round_up_slack).
    t = _round_up_slack(float(threshold))
    if dfreq is None:
        dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    tk = toks.join(dfreq, "token").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("id").orderBy("df", "token")
        ),
    )
    pfx = tk.filter(
        _probing_prefix_cond(F.col("len"), F.col("pos"), t)
    ).select("id", "len", "token", "pos")
    L = pfx.alias("L")
    R = pfx.alias("R")
    return (
        L.join(
            R,
            (F.col("L.token") == F.col("R.token"))
            & (F.col("L.id") < F.col("R.id")),
        )
        .filter(
            _length_cond(F.col("L.len"), F.col("R.len"), t)
            & _length_cond(F.col("R.len"), F.col("L.len"), t)
            & _positional_cond(
                F.col("L.len"), F.col("L.pos"),
                F.col("R.len"), F.col("R.pos"), t,
            )
        )
        .select(F.col("L.id").alias("lid"), F.col("R.id").alias("rid"))
        .distinct()
    )


def ngram_jaccard_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    q: int = 5,
) -> DataFrame:
    """Character-q-gram Jaccard near-dup pairs with the exact score:
    ``(l_id, r_id, jaccard)``. Clean set semantics; prefix-filtered
    candidate generation (:func:`_prefix_candidates`) + exact
    verification, so results equal the brute all-sharing-pairs path
    while shuffling only prefix tokens."""
    from ..tokenizers import QGramsTokzr

    tok = QGramsTokzr(q)
    raw = tok.tokenize(df, id_col, text_col)
    if tok.rows_distinct:
        # (id, len, token) rows are already distinct post-lowercase
        # and len is the set cardinality — no dedup shuffle needed.
        toks3 = raw
    else:
        sets = raw.select("id", "token").distinct()
        toks3 = sets.withColumn(
            "len", F.count(F.lit(1)).over(Window.partitionBy("id"))
        )
    # Downstream (doc-freq groupBy, pos window, prefix self-join,
    # verification) never needs the q-gram text, only token identity —
    # replace strings with xxhash64 longs so every shuffle and sort
    # key is 8 fixed bytes. Prefix filtering is sound under ANY global
    # order shared by both sides (the (df, hash) order is one), and
    # verification compares hashed sets exactly; a 64-bit collision
    # (~n²/2⁶⁴, vanishing at any real vocab) could only merge two
    # q-grams, which the exact-score contract tolerates far below
    # every other noise floor. The reference-surface joins keep string
    # tokens — their (df, token) tie-break is oracle-visible.
    toks3 = toks3.select(
        "id", "len", F.xxhash64("token").alias("token")
    )
    toks3 = toks3.persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = toks3.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # Early-stopping gate: exact iff <= _MAX_BITSET_VOCAB (what the
    # bitset pipeline needs), capped at MAX+1 otherwise (all the
    # large-vocab branch needs to know). COLLECTING the bounded rows
    # instead of counting them (round 12) hands the bitset pipeline
    # its tid dim as a literal — the in-plan dfreq re-aggregation +
    # global rank window the broadcast subtree used to re-execute are
    # gone. At corpus scale the limit still stops the fetch at 4097
    # rows.
    dfreq_rows = dfreq.limit(_MAX_BITSET_VOCAB + 1).collect()
    vocab_n = len(dfreq_rows)
    if 0 < vocab_n <= _MAX_BITSET_VOCAB:
        out = _ngram_bitset_pipeline(toks3, dfreq_rows, vocab_n, threshold)
    else:
        cands = _prefix_candidates(toks3, threshold, dfreq=dfreq)
        out = _verify_jaccard(
            cands, toks3.select("id", "token"), threshold,
            vocab_n=vocab_n,
        )
    return out.select(
        F.col("lid").alias("l_id"), F.col("rid").alias("r_id"), "jaccard"
    )


def containment_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    tokenizer: Tokenizer | None = None,
) -> DataFrame:
    """Asymmetric set-containment self-join: ordered pairs
    ``(l_id, r_id, containment)`` with ``containment = |T(l) ∩ T(r)|
    / |T(l)| >= threshold`` (and >= 1 shared token) — "document l is
    mostly contained in document r", the near-subset detector a
    training-data pipeline uses to drop quotes/excerpts/boilerplate
    wrappers that symmetric Jaccard misses (a short doc inside a long
    one has low Jaccard but containment 1.0). Both directions are
    reported when both qualify. Set semantics
    (:func:`_token_sets`).

    Scale: prefix-filtered candidates, not all token-sharing pairs.
    If ``ov >= m`` then by pigeonhole ANY ``|L| - m + 1`` tokens of L
    include an overlap token, so only L's that many rarest tokens
    (global (df, token) ascending order — rarity minimizes fanout;
    soundness needs no order at all) are indexed against the full
    token table, with ``m`` derived from the round-aware effective
    threshold (:func:`_containment_prefix_cond` — tie-exact, and
    sound against the round-to-6 verification); candidates are
    verified exactly (:func:`_verify_overlap` — bitset/array plans,
    no pairs×tokens explosion), so the prefix filter is lossless and
    the output equals the brute all-sharing-pairs result (pinned by
    hypothesis fuzz). Only the left side prunes: containment bounds
    involve ``|L|`` alone, so the probing side legitimately keeps
    every token.
    """
    tokenizer = tokenizer or WhitespaceTokzr()
    toks = _token_sets(df, id_col, text_col, tokenizer).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return _containment_core(toks, toks, threshold, self_mode=True).select(
        F.col("lid").alias("l_id"), F.col("rid").alias("r_id"), "containment"
    )


def _containment_prefix_cond(length: Column, pos: Column, t: float) -> Column:
    """Keep a (pos-th rarest token, document of ``length`` tokens) row
    in the pigeonhole prefix for containment >= t UNDER THE ROUND-TO-6
    VERIFICATION: a pair passes verification iff
    ``round(ov/len, 6) >= t``, which admits ov as low as
    ``(t - 5e-7) * len`` — so the prefix bound must use the effective
    threshold ``t' = t - 1e-6`` (strictly below every true containment
    that can round up to t), or a pair sitting in that rounding window
    would verify in the brute oracle but never become a candidate.
    The bound ``len - pos + 1 >= t' * len`` is evaluated tie-exactly
    by integer cross-multiplication (same discipline as
    :func:`..jaccard._probing_prefix_cond`); thresholds whose decimal
    expansion is too wide fall back to the double form with the same
    1e-6 slack."""
    fr = _t_fraction(t)
    if fr is not None:
        fr_eff = fr - Fraction(1, 10**6)
        if fr_eff <= 0:
            return F.lit(True)
        return (length - pos + 1) * F.lit(fr_eff.denominator) >= (
            length * F.lit(fr_eff.numerator)
        )
    return (length - pos + 1).cast("double") >= length.cast("double") * (
        F.lit(float(t)) - F.lit(1e-6)
    )


def _containment_core(
    q_toks: DataFrame,
    c_toks: DataFrame,
    threshold: float,
    self_mode: bool,
) -> DataFrame:
    """Shared containment pipeline: corpus-df-ordered pigeonhole
    prefix on the query side (:func:`_containment_prefix_cond` —
    lossless against the rounded verification), candidate equi-join
    against the full corpus token table, exact overlap
    (:func:`_verify_overlap`), ``containment = round(ov / |Q|, 6)``
    threshold filter. ``self_mode`` drops same-id pairs and verifies
    one-sided (single vocabulary → bitset fast path eligible).
    Returns ``(lid, rid, containment)``.

    Round 12 (VERDICT r11 #2): the main plan used to carry FOUR
    aggregations beyond the two verify docbits — a per-id ``sizes``
    count joined into the prefix, an in-plan ``dfreq``, and the
    verify's own union+distinct vocab job. Now one bounded probe
    collects ``dfreq`` itself (when the corpus vocabulary fits
    ``_MAX_BITSET_VOCAB``, it becomes a literal broadcast dim — no
    in-plan corpus-token aggregation at all), the query side's size
    rides the prefix's existing id-partitioned window as a second
    window function (no aggregation, no join), and the collected
    vocabulary feeds the verify's tid dim directly
    (``vocab_tokens``), so the plan has exactly ONE aggregation per
    side: the docbits. Above the vocab cap the in-plan dfreq and the
    array verify remain the (corpus-scale) plan."""
    spark = q_toks.sparkSession
    # Bounded union-vocab probe: ONE job collects the union
    # vocabulary WITH its corpus doc-frequencies — group the union of
    # both token tables by token, summing only corpus rows, so a
    # query-only token lands with df 0 (exactly the value the old
    # left-join coalesce produced for it). At corpus scale the limit
    # caps the fetch at 4097 rows ("too big" is all it learns — the
    # same bounded-probe discipline as the r11 union-distinct gate
    # this replaces).
    probe = c_toks.select("token", F.lit(1).alias("is_c"))
    if not self_mode:
        probe = probe.union(q_toks.select("token", F.lit(0).alias("is_c")))
    vocab_rows = (
        probe.groupBy("token")
        .agg(F.sum("is_c").alias("df"))
        .limit(_MAX_BITSET_VOCAB + 1)
        .collect()
    )
    vocab_n = len(vocab_rows)
    small = 0 < vocab_n <= _MAX_BITSET_VOCAB
    if small:
        tok_type = c_toks.schema["token"].dataType
        dfreq = F.broadcast(
            spark.createDataFrame(
                [(r["token"], r["df"]) for r in vocab_rows],
                T.StructType(
                    [
                        T.StructField("token", tok_type, False),
                        T.StructField("df", T.LongType(), False),
                    ]
                ),
            )
        )
        vocab_tokens = [r["token"] for r in vocab_rows]
    else:
        # over the cap: in-plan corpus dfreq, array verify — the
        # corpus-scale plan (vocab_n only says "too big")
        dfreq = c_toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        vocab_tokens = None
    pos_w = Window.partitionBy("id").orderBy("df", "token")
    sz_w = Window.partitionBy("id")
    prefix = (
        # left join: query tokens the corpus never contains have df 0
        # and sort FIRST — maximal pruning (self mode: df never null).
        # |T(q)| rides the prefix's own id-partitioned window (same
        # exchange, second window function) instead of a separate
        # groupBy + join.
        q_toks.join(dfreq, "token", "left")
        .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
        .withColumn("pos", F.row_number().over(pos_w))
        .withColumn("sz", F.count(F.lit(1)).over(sz_w))
        .filter(_containment_prefix_cond(F.col("sz"), F.col("pos"), threshold))
        .select(F.col("id").alias("lid"), "token")
    )
    cands = prefix.join(
        c_toks.select(F.col("id").alias("rid"), "token"), "token"
    )
    if self_mode:
        cands = cands.filter(F.col("lid") != F.col("rid"))
    cands = cands.select("lid", "rid").distinct()
    ov = _verify_overlap(
        cands,
        q_toks.select("id", "token"),
        r_toks=None if self_mode else c_toks.select("id", "token"),
        vocab_n=vocab_n,
        vocab_tokens=vocab_tokens,
    )
    return (
        ov.withColumn(
            "containment",
            F.round(
                F.col("ov").cast("double") / F.col("lsz").cast("double"), 6
            ),
        )
        .filter(F.col("containment") >= F.lit(float(threshold)))
        .select("lid", "rid", "containment")
    )


def containment_match(
    query_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    tokenizer: Tokenizer | None = None,
) -> DataFrame:
    """Two-table containment: ``(q_id, c_id, containment)`` with
    ``containment = |T(q) ∩ T(c)| / |T(q)| >= threshold`` — the
    DECONTAMINATION shape: ``query_df`` is a benchmark/eval set,
    ``corpus_df`` the training corpus; a match means a training
    document contains (most of) a benchmark item, and asymmetric
    containment is the right metric because the training document is
    usually far larger than the benchmark item (symmetric Jaccard
    would dilute the overlap to noise).

    Same lossless pigeonhole prefix filter as
    :func:`containment_join` — only the query side prunes (the bound
    involves ``|Q|`` alone, ordered by CORPUS token frequency so the
    prefix probes the rarest corpus tokens); candidates are verified
    exactly via the shared bitset/array overlap plans
    (:func:`_verify_overlap` two-sided mode). Tokens the corpus never
    contains have corpus-df 0 and sort first — maximal pruning.
    Self-pairs are possible only if ids overlap across tables;
    callers filter if needed.
    """
    tokenizer = tokenizer or WhitespaceTokzr()
    q_toks = _token_sets(query_df, id_col, text_col, tokenizer).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    c_toks = _token_sets(corpus_df, id_col, text_col, tokenizer).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return _containment_core(q_toks, c_toks, threshold, self_mode=False).select(
        F.col("lid").alias("q_id"), F.col("rid").alias("c_id"), "containment"
    )


@dataclass
class ContainmentIndex:
    """Pre-tokenized static QUERY (benchmark/eval) side of
    decontamination matching: the distinct ``(id, token)`` rows,
    persisted once. Build with :func:`containment_index`, then match
    any number of corpus batches (e.g. streaming micro-batches) with
    :func:`containment_match_indexed` — the benchmark set is never
    re-tokenized or re-persisted per batch (the per-epoch cache leak
    the plain :func:`containment_match` shape would accumulate on a
    long-running ingest). The containment twin of
    :class:`MinHashIndex` / :class:`..similarity.EmbeddingLshIndex`.
    """

    toks: DataFrame
    tokenizer: Tokenizer

    def unpersist(self) -> None:
        self.toks.unpersist()


def containment_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokenizer: Tokenizer | None = None,
) -> ContainmentIndex:
    """Tokenize + persist the static benchmark side once. The prefix
    ORDER of :func:`_containment_core` depends on CORPUS token
    frequencies (per batch), so only the token sets — not positions —
    are precomputable; that is exactly the expensive, repeated part."""
    tokenizer = tokenizer or WhitespaceTokzr()
    toks = _token_sets(df, id_col, text_col, tokenizer).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return ContainmentIndex(toks=toks, tokenizer=tokenizer)


def containment_match_indexed(
    index: ContainmentIndex,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """:func:`containment_match` against a prebuilt
    :class:`ContainmentIndex`: returns ``(matches, batch_toks)``
    where ``matches`` is ``(q_id, c_id, containment)`` (identical
    semantics/plan shape to the unindexed form) and ``batch_toks`` is
    the PERSISTED corpus-batch token table the pipeline reads three
    times (df ordering, candidate probe, verification). The caller
    must ``batch_toks.unpersist()`` after materializing ``matches``
    (the streaming wrapper does this per epoch in a ``finally``) —
    that contract is what keeps a long-running stream's cache
    footprint flat instead of leaking two InMemoryRelations per
    micro-batch."""
    c_toks = _token_sets(corpus_df, id_col, text_col, index.tokenizer).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    matches = _containment_core(
        index.toks, c_toks, threshold, self_mode=False
    ).select(
        F.col("lid").alias("q_id"), F.col("rid").alias("c_id"), "containment"
    )
    return matches, c_toks


def ngram_decontaminate(
    query_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """N-gram-overlap decontamination (the GPT-3/PaLM-style check):
    flag a training document when any word-level ``n``-gram of a
    benchmark item appears VERBATIM in it. Catches the case set
    containment (:func:`containment_match`) structurally misses — a
    13-token benchmark quote embedded in a 10k-token training
    document dilutes whole-item containment toward 0, but its n-grams
    still match exactly.

    Pipeline (all narrow-key equi-joins — never pairs × tokens):
    whitespace-lowercase both sides, slide a length-``n`` window
    (``transform`` over ``sequence`` — JVM array intrinsics, no
    UDFs), hash each shingle to an 8-byte ``xxhash64`` key (the
    :func:`ngram_jaccard_near_duplicates` compression trick — a
    shuffle ~5× narrower than raw shingle strings; a 64-bit collision
    adds one spurious hit at the ~2^-64 noise floor), distinct per
    document, equi-join benchmark-shingle-hashes against
    corpus-shingle-hashes, and aggregate per (benchmark item,
    training doc):

    - ``n_hits``: distinct shared n-grams;
    - ``q_ngrams``: the benchmark item's distinct n-gram count;
    - ``hit_frac``: ``round(n_hits / q_ngrams, 6)`` — 1.0 means every
      benchmark n-gram appears in the doc.

    Docs shorter than ``n`` tokens produce no shingles on either
    side (standard n-gram-decon behavior: items shorter than the
    window cannot be flagged — lower ``n`` or fall back to
    :func:`containment_match` for those). ``min_hits`` filters the
    output (``>= min_hits``); the default 1 flags ANY verbatim
    n-gram, the standard conservative setting.

    Scale: corpus-side cost is one scan + explode (shingles ≈ token
    count) + map-side-partial distinct; the join is hash-key equi —
    benchmark sides are small by nature, so AQE broadcasts them. No
    corpus-wide state, no driver materialization.
    Output: ``(q_id, c_id, n_hits, q_ngrams, hit_frac)``.
    """
    q = _shingle_hashes(query_df, id_col, text_col, int(n), "q_id")
    q_sizes = q.groupBy("q_id").agg(F.count(F.lit(1)).alias("q_ngrams"))
    c = _shingle_hashes(corpus_df, id_col, text_col, int(n), "c_id")
    return _ngram_match_core(q, q_sizes, c, int(min_hits))


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int, side: str
) -> DataFrame:
    """Distinct word-level n-gram xxhash64 keys per document. Same
    whitespace-class split + drop-blank as WhitespaceTokzr (and the
    oracle's str_split_regex twin) — but ORDER PRESERVED: shingles
    are windows over the token sequence, not over the token set."""
    if n < 2:
        raise ValueError("ngram decontamination needs n >= 2")
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \t\r\n]", -1),
        lambda x: F.trim(x) != F.lit(""),
    )
    grams = F.when(
        F.size("ts") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("ts") - n),
            lambda i: F.xxhash64(
                F.concat_ws(" ", F.slice(F.col("ts"), i + 1, n))
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        df.select(F.col(id_col).alias(side), toks.alias("ts"))
        .select(side, F.explode(grams).alias("g"))
        .distinct()
    )


def _ngram_match_core(
    q: DataFrame, q_sizes: DataFrame, c: DataFrame, min_hits: int
) -> DataFrame:
    """Shared n-gram decontamination tail: equi-join on shingle hash,
    per-(benchmark, doc) distinct-hit aggregation, size join, hit
    fraction."""
    hits = (
        q.join(c, "g")
        .groupBy("q_id", "c_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        hits.join(q_sizes, "q_id")
        .filter(F.col("n_hits") >= F.lit(int(min_hits)))
        .select(
            "q_id",
            "c_id",
            "n_hits",
            "q_ngrams",
            F.round(
                F.col("n_hits").cast("double")
                / F.col("q_ngrams").cast("double"),
                6,
            ).alias("hit_frac"),
        )
    )


@dataclass
class NgramIndex:
    """Pre-shingled static benchmark side of n-gram decontamination:
    distinct shingle hashes and per-item shingle counts, persisted
    once. Build with :func:`ngram_index`, match corpus batches with
    :func:`ngram_decontaminate_indexed` — the n-gram twin of
    :class:`ContainmentIndex`. Streaming is even cleaner than the
    containment shape: the batch side is read exactly ONCE per
    micro-batch (one equi-join), so no per-epoch persist/unpersist is
    needed at all."""

    grams: DataFrame
    sizes: DataFrame
    n: int

    def unpersist(self) -> None:
        self.grams.unpersist()
        self.sizes.unpersist()


def ngram_index(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> NgramIndex:
    """Shingle + persist the benchmark side once (eval suites are
    small by nature — both frames are broadcast-sized)."""
    n = int(n)
    grams = _shingle_hashes(df, id_col, text_col, n, "q_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sizes = (
        grams.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("q_ngrams"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return NgramIndex(grams=grams, sizes=sizes, n=n)


def ngram_decontaminate_indexed(
    index: NgramIndex,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    min_hits: int = 1,
) -> DataFrame:
    """:func:`ngram_decontaminate` against a prebuilt
    :class:`NgramIndex` — identical output; the benchmark side is
    never re-shingled. The corpus batch feeds ONE equi-join, so no
    batch-side persistence exists to leak."""
    c = _shingle_hashes(corpus_df, id_col, text_col, index.n, "c_id")
    return _ngram_match_core(index.grams, index.sizes, c, int(min_hits))


# --------------------------------------------------------------------------
# Bloom-filter decontamination (broadcast bitset prefilter + exact verify)
# --------------------------------------------------------------------------

# Signed-long bit patterns for bits 0..63 (bit 63 is the sign bit, so
# its pattern is the minimum long, not +2^63). element_at over this
# 64-element literal replaces shiftleft-by-a-column, which PySpark's
# shiftleft doesn't support (numBits must be a Python int).
_BLOOM_BIT64 = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]
_BLOOM_SEED = 0x9E3779B9  # second-hash salt (golden-ratio constant)
_BLOOM_MIN_BITS = 1 << 16  # 8 KB floor — below this the table is noise
_BLOOM_MAX_BITS = 1 << 27  # 16 MB broadcast ceiling for the bitset


def _bloom_hashes(g: Column, m_bits: int) -> tuple[Column, Column]:
    """Kirsch–Mitzenmacher double-hashing pair for a 64-bit shingle
    key: ``pos_i = (h1 + i*h2) mod m``. Both hashes are reduced mod
    ``m`` BEFORE any arithmetic so every intermediate stays under
    ``m * k`` — safe under Spark 4's default ANSI overflow checking.
    ``h2`` is forced odd; with ``m`` a power of two an odd stride is
    coprime to the table, so the k probes never collapse onto one
    slot."""
    h1 = F.pmod(F.xxhash64(g), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(g, F.lit(_BLOOM_SEED)), F.lit(m_bits)).bitwiseOR(
        F.lit(1)
    )
    return h1, h2


def bloom_words(
    grams: DataFrame,
    gram_col: str,
    m_bits: int,
    num_hashes: int,
    materialize: bool = False,
) -> DataFrame:
    """Distributed Bloom-filter BUILD as a SPARSE word table:
    ``(w: int, word: bigint)`` — the non-zero 64-bit words of an
    ``m_bits``-wide bitset (at most ``m_bits/64`` rows, 2M rows /
    ~24 MB at the cap).

    Map side: each element expands to ``num_hashes`` bit positions
    (``transform`` over ``sequence`` — JVM array intrinsics, no
    UDFs). Reduce side: ``bit_or`` per word with map-side partial
    aggregation, so the shuffle carries at most ``m_bits/64`` words
    per input partition REGARDLESS of element count — at 100 TB the
    build is one scan plus a bounded-width shuffle.

    Sparse-table-not-dense-array is deliberate: an earlier dense
    ``array<bigint>`` row attached via crossJoin(broadcast) copied
    the full 128 KB+ array into EVERY joined corpus row inside the
    BroadcastNestedLoopJoin (~60× slower probe, measured); the
    sparse table probes as ``num_hashes`` broadcast HASH joins with
    constant-width rows instead (:func:`bloom_prefilter`).

    ``materialize=True`` eagerly ``localCheckpoint``s the table: the
    build computes exactly once and every probe join broadcasts a
    leaf RDD scan — otherwise each of the probe's ``num_hashes``
    broadcast exchanges would re-execute the build subtree (they are
    alias-renamed copies, so Spark cannot ReusedExchange them)."""
    m_bits = int(m_bits)
    if m_bits % 64 or m_bits <= 0:
        raise ValueError("m_bits must be a positive multiple of 64")
    h1, h2 = _bloom_hashes(F.col(gram_col), m_bits)
    pos = grams.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(int(num_hashes) - 1)),
                lambda i: F.pmod(h1 + i.cast("bigint") * h2, F.lit(m_bits)),
            )
        ).alias("p")
    )
    out = (
        pos.select(
            F.shiftright(F.col("p"), 6).cast("int").alias("w"),
            F.element_at(
                F.lit(_BLOOM_BIT64),
                F.pmod(F.col("p"), F.lit(64)).cast("int") + F.lit(1),
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
    )
    return out.localCheckpoint(eager=True) if materialize else out


def bloom_prefilter(
    df: DataFrame,
    gram_col: str,
    words: DataFrame,
    m_bits: int,
    num_hashes: int,
) -> DataFrame:
    """Bloom membership PREFILTER: rows of ``df`` whose ``gram_col``
    passes the filter encoded by a :func:`bloom_words` table (no
    false negatives; false positives at the filter's FPR).

    Each of the ``num_hashes`` probes is one broadcast HASH join
    against the word table on the probe's word index (inner join —
    a missing word row means no bits set there, so the row is
    correctly dropped) followed by one bit test. All joins broadcast
    the same bounded table and keep rows constant-width, so the
    probe is map-side and whole-stage-codegen'd end to end — the
    corpus side is never shuffled. Original columns of ``df`` are
    preserved; ``df`` must not carry ``__bloom_``-prefixed names."""
    h1, h2 = _bloom_hashes(F.col(gram_col), int(m_bits))
    out = df
    cond = F.lit(True)
    for i in range(int(num_hashes)):
        p = F.pmod(h1 + F.lit(i).cast("bigint") * h2, F.lit(int(m_bits)))
        out = out.withColumn(
            f"__bloom_w{i}", F.shiftright(p, 6).cast("int")
        ).withColumn(
            f"__bloom_b{i}",
            F.element_at(
                F.lit(_BLOOM_BIT64),
                F.pmod(p, F.lit(64)).cast("int") + F.lit(1),
            ),
        )
        wi = words.select(
            F.col("w").alias(f"__bloom_ww{i}"),
            F.col("word").alias(f"__bloom_word{i}"),
        )
        out = out.join(
            F.broadcast(wi),
            F.col(f"__bloom_w{i}") == F.col(f"__bloom_ww{i}"),
            "inner",
        )
        cond = cond & (
            F.col(f"__bloom_word{i}").bitwiseAND(F.col(f"__bloom_b{i}"))
            != F.lit(0)
        )
    return out.filter(cond).select(*df.columns)


def _bloom_size_bits(n_elements: int, bits_per_element: int) -> int:
    """Power-of-two bitset size for ``n`` elements at the requested
    density, clamped to [_BLOOM_MIN_BITS, _BLOOM_MAX_BITS]. Power of
    two keeps the odd double-hash stride coprime to the table."""
    target = max(_BLOOM_MIN_BITS, int(n_elements) * int(bits_per_element))
    m = _BLOOM_MIN_BITS
    while m < target and m < _BLOOM_MAX_BITS:
        m <<= 1
    return m


def bloom_ngram_decontaminate(
    query_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_hits: int = 1,
    m_bits: int | None = None,
    num_hashes: int = 7,
    bits_per_element: int = 16,
) -> DataFrame:
    """:func:`ngram_decontaminate` with a broadcast Bloom-bitset
    prefilter on the corpus side — IDENTICAL output (the filter has
    no false negatives; survivors take the same exact equi-join).

    Why it exists: the plain operator relies on the benchmark shingle
    set being broadcast-small. A full eval-harness suite can carry
    tens of millions of distinct 8-grams — ~80 MB of raw 8-byte keys
    plus hash-table overhead, past sensible broadcast budgets — which
    silently degrades the decontamination join to shuffling EVERY
    corpus shingle (at 100 TB, the corpus side is ~10^13 shingles).
    A Bloom word table at 16 bits/element is several times smaller
    than the raw key set, broadcasts at any benchmark size up to the
    ~24 MB cap, and eliminates ~all non-matching corpus shingles
    map-side (broadcast hash joins + bit tests, whole-stage
    codegen'd): only the matching sliver (true hits + the ~1e-4
    false-positive trickle) reaches the exact join's shuffle.

    ``m_bits=None`` auto-sizes the table from the benchmark shingle
    count (one scalar job on the SMALL side; pass an explicit power
    of two to skip it). The build is one bounded-width ``bit_or``
    aggregation materialized eagerly (see :func:`bloom_words` — one
    extra bounded job, paid once), so the main query's probe joins
    broadcast a leaf scan; the benchmark side is scanned twice
    (build + exact tail) rather than persisted — it is small by
    nature, and the one-shot stays leak-free. For repeated batches,
    build once with :func:`bloom_ngram_index`.

    Output: ``(q_id, c_id, n_hits, q_ngrams, hit_frac)`` — bit-
    identical to :func:`ngram_decontaminate`.
    """
    q = _shingle_hashes(query_df, id_col, text_col, int(n), "q_id")
    if m_bits is None:
        m_bits = _bloom_size_bits(q.count(), bits_per_element)
    words = bloom_words(q, "g", m_bits, num_hashes, materialize=True)
    c = _shingle_hashes(corpus_df, id_col, text_col, int(n), "c_id")
    cand = bloom_prefilter(c, "g", words, m_bits, num_hashes)
    q_sizes = q.groupBy("q_id").agg(F.count(F.lit(1)).alias("q_ngrams"))
    return _ngram_match_core(q, q_sizes, cand, int(min_hits))


@dataclass
class BloomNgramIndex:
    """Static-benchmark Bloom decontamination index: the persisted
    shingle frames of :class:`NgramIndex` plus the materialized
    sparse word table. Build with :func:`bloom_ngram_index`, match
    corpus batches with :func:`bloom_ngram_decontaminate_indexed`."""

    grams: DataFrame
    sizes: DataFrame
    words: DataFrame
    n: int
    m_bits: int
    num_hashes: int

    def unpersist(self) -> None:
        self.grams.unpersist()
        self.sizes.unpersist()


def bloom_ngram_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    m_bits: int | None = None,
    num_hashes: int = 7,
    bits_per_element: int = 16,
) -> BloomNgramIndex:
    """Shingle + persist the benchmark side and materialize its Bloom
    word table once (localCheckpoint-ed, so per-batch probe plans
    broadcast a leaf scan, not the build)."""
    n = int(n)
    grams = _shingle_hashes(df, id_col, text_col, n, "q_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if m_bits is None:
        m_bits = _bloom_size_bits(grams.count(), bits_per_element)
    sizes = (
        grams.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("q_ngrams"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return BloomNgramIndex(
        grams=grams,
        sizes=sizes,
        words=bloom_words(grams, "g", m_bits, num_hashes,
                          materialize=True),
        n=n,
        m_bits=int(m_bits),
        num_hashes=int(num_hashes),
    )


def bloom_ngram_decontaminate_indexed(
    index: BloomNgramIndex,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    min_hits: int = 1,
) -> DataFrame:
    """:func:`bloom_ngram_decontaminate` against a prebuilt
    :class:`BloomNgramIndex` — the streaming/batch-match shape: each
    corpus batch pays one map-side bitset probe plus the exact
    equi-join on the surviving sliver."""
    c = _shingle_hashes(corpus_df, id_col, text_col, index.n, "c_id")
    cand = bloom_prefilter(
        c, "g", index.words, index.m_bits, index.num_hashes
    )
    return _ngram_match_core(index.grams, index.sizes, cand, int(min_hits))


# --------------------------------------------------------------------------
# cluster assignment (connected components over near-dup pairs)
# --------------------------------------------------------------------------

def _cc_driver_hash_min(spark, pdf, max_iterations: int, id_type) -> DataFrame:
    """Driver-vectorized twin of the distributed hash-min loop, for
    one-directional edge lists under :data:`_CC_DRIVER_MAX_EDGES`
    (already fetched as the pandas frame ``pdf``). Each numpy round
    applies the IDENTICAL recurrence as the BROADCAST-REGIME
    distributed round — ``new = prev[min(lab over neighbors ∪ self)]``
    (min message + pointer jump through the previous round's map) —
    and stops on the first no-change round. Labels always equal the
    distributed loop's (any hash-min fixpoint is the per-component
    min). The round count and ``max_iterations`` contract are
    bit-identical to the distributed loop only in its broadcast
    regime (node count <= :data:`_CC_BROADCAST_MAX_LABELS`, where it
    also pointer-jumps; pinned by tests/test_dedup.py::
    test_cc_driver_fast_path_matches_distributed); a <= 4M-edge graph
    with more nodes than that converges here in fewer rounds than the
    plain-update BSP loop would need — this path may succeed within a
    ``max_iterations`` where the distributed loop would raise, never
    the reverse (pointer jumping only accelerates convergence).
    """
    import numpy as np
    import pandas as pd

    u0 = pdf["u"].to_numpy()
    v0 = pdf["v"].to_numpy()
    # symmetrize here instead of a Spark union of the pair subtree
    u = np.concatenate([u0, v0])
    v = np.concatenate([v0, u0])
    nodes = np.unique(u)
    ui = np.searchsorted(nodes, u)
    vi = np.searchsorted(nodes, v)
    lab = np.arange(len(nodes), dtype=np.int64)
    converged = len(nodes) == 0
    for _ in range(max_iterations):
        new = lab.copy()
        np.minimum.at(new, vi, lab[ui])
        new = lab[new]
        if np.array_equal(new, lab):
            converged = True
            break
        lab = new
    if not converged:
        raise RuntimeError(
            f"connected_components(hash_min) did not converge within "
            f"{max_iterations} rounds (labels still moving); "
            "raise max_iterations or use algorithm='two_phase' "
            "(O(log n) rounds regardless of diameter)"
        )
    return spark.createDataFrame(
        pd.DataFrame({"id": nodes, "comp": nodes[lab]}),
        T.StructType(
            [
                T.StructField("id", id_type, False),
                T.StructField("comp", id_type, False),
            ]
        ),
    )


def connected_components(
    edges: DataFrame,
    src: str = "l_id",
    dst: str = "r_id",
    max_iterations: int = 50,
    algorithm: str = "hash_min",
    dedup_edges: bool = True,
) -> DataFrame:
    """``(id, comp)`` for every node appearing in ``edges``, where
    ``comp`` is the smallest node id in the node's connected component
    — the survivor-selection step after near-dup pair generation (keep
    ``id == comp``, drop the rest), turning pairwise matches into
    dedup clusters.

    Hash-min label propagation: every round each node adopts the
    minimum label among itself and its neighbors; fixpoint after
    graph-diameter rounds. Near-dup clusters are low-diameter
    (cliques/stars around a template document), so 2-4 rounds is
    typical; ``max_iterations`` bounds adversarial path graphs.

    Scale design: each round is one shuffle (labels ⋈ edges on node) +
    a min-combine groupBy with map-side partial aggregation — the
    standard hash-min CC used by large dedup pipelines. Labels are
    ``localCheckpoint()``-ed every round so the plan depth stays O(1)
    instead of O(rounds). Each round is ONE Spark job: a LAZY
    checkpoint whose first action is the convergence aggregate —
    labels are monotone non-increasing (the min includes the node's
    own label), so the exact ``sum(comp)`` (decimal(38,0), no
    overflow) strictly decreases until fixpoint and sum-equality ⟺
    zero label changes; this replaces the former eager-checkpoint job
    PLUS new⋈old changed-count join job per round. For graphs with
    whale components at cluster scale, ``algorithm='two_phase'`` runs
    large-star/small-star (Kiveris et al.), which converges in
    O(log n) rounds regardless of diameter and never funnels a whale
    component's labels through one reducer; for dedup edge sets the
    diameter argument makes hash-min the cheaper plan, so it stays
    the default.
    """
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Size-gated driver fast path (round 11, guide §1.2 "choose the
    # distributed algorithm" / §5 driver sizing): when the
    # one-directional edge list is driver-bounded
    # (<= _CC_DRIVER_MAX_EDGES rows, ~64 MB at the 4M cap — the same
    # budget class as the label broadcast the distributed loop
    # already collects EVERY round) and ids are integral, run the
    # identical hash-min + pointer-jumping recurrence vectorized in
    # numpy. ``limit(cap+1).toPandas()`` both decides the gate and
    # fetches the edges in ONE pass — the pair-generation subtree
    # (e.g. the whole minhash candidates+verify pipeline) executes
    # exactly once, where the distributed path's symmetric union
    # executed it twice; above the cap the limit early-stops and the
    # BSP loop below remains the plan (at corpus scale the edge list
    # is never driver-bounded; locally a 965K-edge minhash graph
    # spent 6 round-jobs ≈ 5 s on what this path runs in ~0.2 s).
    # Symmetrization happens on the numpy arrays; duplicate edges
    # need no dedup (duplicate min-messages change nothing).
    if algorithm not in ("hash_min", "two_phase"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # Persist the one-directional edge list BEFORE anything consumes
    # it (round 12, VERDICT r11 #6): an above-cap probe's partial
    # execution of the pair-generation subtree is reused instead of
    # discarded, and the symmetrizing union below reads e0 TWICE —
    # unpersisted, the whole upstream subtree would execute once per
    # direction. Unpersisted again as soon as the symmetric edge set
    # is materialized (or at the driver fast-path exit).
    e0 = e0.persist(StorageLevel.MEMORY_AND_DISK)
    if algorithm == "hash_min" and isinstance(
        e0.schema["u"].dataType, (T.LongType, T.IntegerType, T.ShortType)
    ):
        pdf = e0.limit(_CC_DRIVER_MAX_EDGES + 1).toPandas()
        if len(pdf) <= _CC_DRIVER_MAX_EDGES:
            out = _cc_driver_hash_min(
                e0.sparkSession, pdf, max_iterations,
                e0.schema["u"].dataType,
            )
            e0.unpersist()
            return out
    e = e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if dedup_edges:
        # Hash-min is CORRECT under duplicate edges (duplicate
        # messages don't change a min) — the distinct is a
        # performance choice that shrinks the persisted edge list
        # when the input carries heavy multi-edges. Near-dup pair
        # generators emit distinct one-directional pairs, so those
        # callers skip this full 2×|E| shuffle with
        # ``dedup_edges=False``.
        e = e.distinct()
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    if algorithm == "two_phase":
        out = _cc_two_phase(e, max_iterations)
        e.unpersist()
        e0.unpersist()
        return out
    _label_sum = F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
    labels = (
        e.select("u").distinct().select("u", F.col("u").alias("comp"))
    ).localCheckpoint(eager=False)
    # The seed aggregate doubles as the checkpoint materialization;
    # the node count (constant across rounds) feeds the label-
    # broadcast gate below.
    seed = labels.agg(_label_sum, F.count(F.lit(1)).alias("n")).collect()[0]
    prev_sum, n_nodes = seed["s"], seed["n"]
    # e (the symmetric set) is fully cached by the seed scan — e0's
    # cache has no further reader.
    e0.unpersist()
    for _ in range(max_iterations):
        # Checkpointed labels are a leaf RDD whose size Catalyst (and
        # AQE, which only measures shuffle stages) cannot see, so the
        # labels ⋈ edges join would default to sort-merge — re-sorting
        # the persisted edge list EVERY round. When the driver-known
        # node count proves the label table bounded, hint the
        # broadcast: the round becomes a map-side pass over the
        # persisted edges plus one partial-aggregated message shuffle.
        # Above the cap (~32 MB of labels) the sort-merge IS the right
        # BSP plan at corpus scale.
        bcast = n_nodes <= _CC_BROADCAST_MAX_LABELS
        lab = F.broadcast(labels) if bcast else labels
        offered = e.join(lab, "u").select(
            F.col("v").alias("u"), "comp"
        )
        new_labels = (
            offered.union(labels)
            .groupBy("u")
            .agg(F.min("comp").alias("comp"))
        )
        if bcast:
            # Pointer jumping (round 11): rewrite each fresh label
            # through the PREVIOUS round's label map — comp ←
            # old_label(comp) — so label information travels 2^k hops
            # after k rounds instead of k. Sound because label values
            # are always node ids of the SAME component with
            # old_label(x) <= x (monotone), so the rewrite never
            # leaves the component and never increases a label; the
            # sum fixpoint test is unchanged (a no-change round under
            # the jumped update implies a no-change round under the
            # plain update — the jumped min is <= the plain min — so
            # the proven fixpoint ⟺ converged argument still holds).
            # Measured on the sf0.1 minhash edge set (965K pairs,
            # 2,923 labels): 8 rounds → 4, each round one job. Only
            # in the label-broadcast regime: the rewrite is one extra
            # MAP-SIDE hash join on the post-aggregate (≤ n_nodes
            # rows). Above the cap it would add a second corpus-scale
            # shuffle per round — there the plain d-round sort-merge
            # (or algorithm='two_phase' for whales) stays the plan.
            jump = F.broadcast(
                labels.select(
                    F.col("u").alias("comp"), F.col("comp").alias("__j")
                )
            )
            new_labels = new_labels.join(jump, "comp", "left").select(
                "u", F.coalesce("__j", "comp").alias("comp")
            )
        new_labels = new_labels.localCheckpoint(eager=False)
        cur_sum = new_labels.agg(_label_sum).collect()[0]["s"]
        old = labels
        labels = new_labels
        old.unpersist()
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # Fail loud: returning intermediate labels would silently
        # misassign clusters (and diverge from the exact recursive-CTE
        # oracle). A component's diameter exceeded the round budget —
        # adversarial chain graphs do this; dedup clusters normally
        # converge in a handful of rounds.
        e.unpersist()
        raise RuntimeError(
            f"connected_components(hash_min) did not converge within "
            f"{max_iterations} rounds (labels still moving); "
            "raise max_iterations or use algorithm='two_phase' "
            "(O(log n) rounds regardless of diameter)"
        )
    e.unpersist()
    return labels.select(F.col("u").alias("id"), "comp")


def _cc_two_phase(e: DataFrame, max_iterations: int) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond") over the symmetric distinct
    edge set ``e(u, v)``; returns ``(id, comp)``.

    Each round:
    - large-star: every node connects its LARGER neighbors to the
      minimum of its neighborhood (incl. itself) — long chains
      collapse geometrically;
    - small-star: every node rewires its smaller-or-equal neighbors
      to that minimum — forming local stars.
    The edge set reaches a fixpoint (every component one star rooted
    at its minimum) in O(log n) rounds; no step aggregates a whole
    component through a single key, which is what makes it safe for
    whale components where hash-min's label table hot-spots.

    Fixpoint detection compares (count, sum of xxhash64) of the
    canonicalized edge set between rounds — two scalars instead of a
    set-difference join. Labels: star edges read as child→root, plus
    isolated/self-loop nodes as their own roots.
    """
    nodes = e.select("u").distinct().localCheckpoint()
    cur = (
        e.filter(F.col("u") < F.col("v")).select("u", "v").distinct()
    ).localCheckpoint()

    def _sig(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    sig = _sig(cur)
    for _ in range(max_iterations):
        sym = cur.union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # m(u) = min(N(u) ∪ {u})
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        # large-star: (v, m(u)) for v ∈ N(u), v > u. Since v > u >= m,
        # every emitted edge is (larger, smaller).
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over the (a > b) directed edges: for each a,
        # m = min of its smaller neighborhood; rewire each smaller
        # neighbor x and a itself to m.
        sm = ls.groupBy("a").agg(F.min("b").alias("m"))
        joined = ls.join(sm, "a")
        new = (
            joined.filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
            .union(sm.select(F.col("a").alias("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
            )
            .distinct()
        ).localCheckpoint()
        new_sig = _sig(new)
        old = cur
        cur = new
        old.unpersist()
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components(two_phase) did not reach a fixpoint "
            f"within {max_iterations} rounds — with O(log n) convergence "
            "this indicates a graph far beyond any expected scale; raise "
            "max_iterations"
        )
    # Fixpoint stars are (root=u < child=v); a child keeps exactly one
    # root at convergence.
    labels = (
        cur.groupBy(F.col("v").alias("id"))
        .agg(F.min("u").alias("comp"))
    )
    singletons = (
        nodes.join(labels, nodes["u"] == labels["id"], "left_anti")
        .select(F.col("u").alias("id"), F.col("u").alias("comp"))
    )
    return labels.union(singletons)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson, Aiken —
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03) over word-level ``k``-gram shingles: slide a window of
    ``w`` consecutive shingle hashes and keep each window's minimum
    (rightmost on ties — the paper's robust-winnowing rule), so any
    shared run of ``>= w + k - 1`` words between two documents is
    GUARANTEED to surface a shared fingerprint. The substring-level
    dup detector that complements minhash/simhash (whole-document
    similarity) and n-gram decontamination (verbatim probes): it
    localizes shared passages with a density guarantee (at least one
    fingerprint per window) at ~2/(w+1) of the shingle count.

    The selection step depends on hash ORDER, so the hash must be
    bit-identical in the DuckDB oracle: uint32 of the first 8 md5
    hex chars — the same engine-portable construction as
    ``sources.hash_split``'s stable uniform, C-speed in both engines
    (an interpreted per-char fold like poly_hash costs ~10x here).

    Output: ``(id, pos, fp)`` — distinct selected (shingle index,
    32-bit md5-uint32 hash) pairs per document. Documents shorter than ``k``
    words emit nothing; with fewer than ``w`` shingles the single
    window spans them all (their full text is shorter than the
    guarantee threshold, but they still fingerprint).

    Scale: pure per-row expression work (no shuffle, no UDF) until
    the final explode; fingerprint volume is ~2/(w+1) of corpus word
    count.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    from ..functions.text import ws_token_array
    from ..tokenizers import _ensure_parallelism

    # Fingerprinting is pure per-row compute with no shuffle of its
    # own, so its parallelism equals the SCAN's split count; rebalance
    # compacted single-split corpora (6x at sf0.1 testdata), a no-op
    # on real multi-split layouts.
    df = _ensure_parallelism(df.select(id_col, text_col))

    def _seq1(stop: Column) -> Column:
        """sequence(1, stop), EMPTY when stop < 1 — bare sequence()
        steps DOWNWARD for stop=0 and yields [1, 0]."""
        return F.when(stop >= 1, F.sequence(F.lit(1), stop)).otherwise(
            F.array().cast("array<int>")
        )

    toks = ws_token_array(F.col(text_col))
    shingles = F.transform(
        _seq1(F.size(toks) - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(k))),
    )
    rows = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            shingles,
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast(
                "long"
            ),
        ).alias("hs"),
    )
    m = F.size(F.col("hs"))
    # window starts: 1..m-w+1, or the single window 1 when 0 < m < w
    starts = _seq1(F.greatest(m - F.lit(w - 1), F.least(m, F.lit(1))))
    win = lambda i: F.slice(F.col("hs"), i, F.least(F.lit(w), m - i + 1))
    sel = F.transform(
        starts,
        lambda i: F.struct(
            (
                i
                + F.size(win(i))
                - F.array_position(
                    F.reverse(win(i)), F.array_min(win(i))
                ).cast("int")
            ).alias("pos"),
            F.array_min(win(i)).alias("fp"),
        ),
    )
    return (
        rows.select("id", F.explode(F.array_distinct(sel)).alias("s"))
        .select("id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    )


def winnow_duplicate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Document pairs sharing ``>= min_shared`` distinct winnowing
    fingerprint hashes — shared-passage candidates with the
    :func:`winnow_fingerprints` guarantee (a common run of
    ``w + k - 1`` words always shares at least one fingerprint).

    ``max_df`` drops fingerprints present in more than that many
    documents before pairing — simultaneously the boilerplate filter
    (a corpus-wide footer fingerprint carries no dup signal) and the
    skew guard (the pair join fans out quadratically in per-
    fingerprint document frequency; with the cap, join fan-out is
    bounded by ``max_df²`` per fingerprint).

    Output: ``(l_id, r_id, n_shared)`` with ``l_id < r_id``.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, w).select(
        "id", "fp"
    ).distinct()
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("fp_df"))
        .filter(F.col("fp_df") <= int(max_df))
        .select("fp")
    )
    fps = fps.join(rare, "fp")
    L, R = fps.alias("L"), fps.alias("R")
    return (
        L.join(
            R,
            (F.col("L.fp") == F.col("R.fp")) & (F.col("L.id") < F.col("R.id")),
        )
        .groupBy(
            F.col("L.id").alias("l_id"), F.col("R.id").alias("r_id")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def contamination_report(
    query_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """One decontamination verdict table from BOTH detectors: set
    containment (:func:`containment_match` — whole-item overlap,
    robust to paraphrase-level token reordering) full-outer-joined
    with n-gram overlap (:func:`ngram_decontaminate` — verbatim
    quotes embedded in much larger documents, which containment
    dilutes). The disagreement column is the operational point: a
    ``set_only`` hit is a shuffled/partial near-copy, an
    ``ngram_only`` hit is a verbatim excerpt inside an otherwise
    unrelated document, ``both`` is a straight copy — each gets a
    different quarantine policy in practice.

    Output: ``(q_id, c_id, containment, n_hits, q_ngrams, hit_frac,
    verdict)`` — detector-specific columns NULL where only the other
    detector fired; ``verdict`` in {'both','set_only','ngram_only'}.

    Scale: exactly the union of the two detectors' costs (each is
    prefix/equi-join bounded, never all-pairs) plus one full outer
    join on the (q_id, c_id) hit set — hit sets are small relative
    to the corpus by construction.
    """
    c = containment_match(
        query_df, corpus_df, id_col, text_col, threshold
    ).alias("C")
    g = ngram_decontaminate(
        query_df, corpus_df, id_col, text_col, n, min_hits
    ).alias("G")
    return (
        c.join(
            g,
            (F.col("C.q_id") == F.col("G.q_id"))
            & (F.col("C.c_id") == F.col("G.c_id")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("C.q_id"), F.col("G.q_id")).alias("q_id"),
            F.coalesce(F.col("C.c_id"), F.col("G.c_id")).alias("c_id"),
            F.col("C.containment").alias("containment"),
            F.col("G.n_hits").alias("n_hits"),
            F.col("G.q_ngrams").alias("q_ngrams"),
            F.col("G.hit_frac").alias("hit_frac"),
            F.when(
                F.col("C.q_id").isNotNull() & F.col("G.q_id").isNotNull(),
                F.lit("both"),
            )
            .when(F.col("C.q_id").isNotNull(), F.lit("set_only"))
            .otherwise(F.lit("ngram_only"))
            .alias("verdict"),
        )
    )


def winnow_shared_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 4,
    max_df: int = 50,
) -> DataFrame:
    """WHERE the shared material sits: every aligned fingerprint
    match between two documents, as ``(l_id, r_id, l_pos, r_pos,
    fp)`` with 1-based shingle positions — the passage-localization
    view behind :func:`winnow_duplicate_pairs`' counts (which
    documents dedup decisions need) that an excision/attribution
    workflow needs instead (which SPANS to cut or cite). Consecutive
    rows with equal ``l_pos - r_pos`` offsets delineate one
    contiguous shared run.

    Same ``max_df`` boilerplate/skew cap as the pair view; same
    fingerprint selection (so every shared run of ``w + k - 1``
    words surfaces at least one aligned row).
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    rare = (
        fps.select("id", "fp")
        .distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("fp_df"))
        .filter(F.col("fp_df") <= int(max_df))
        .select("fp")
    )
    fps = fps.join(rare, "fp")
    L, R = fps.alias("L"), fps.alias("R")
    return L.join(
        R,
        (F.col("L.fp") == F.col("R.fp")) & (F.col("L.id") < F.col("R.id")),
    ).select(
        F.col("L.id").alias("l_id"),
        F.col("R.id").alias("r_id"),
        F.col("L.pos").alias("l_pos"),
        F.col("R.pos").alias("r_pos"),
        F.col("L.fp").alias("fp"),
    )


def keep_cluster_representatives(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
    cluster_id_col: str = "id",
    comp_col: str = "comp",
    score: Column | None = None,
) -> DataFrame:
    """The apply step after :func:`connected_components`: keep exactly
    one representative row per near-dup cluster plus every unclustered
    row — pairs → clusters → CLEAN CORPUS.

    The representative is the cluster's max-``score`` row (ties and
    the default ``score=None`` fall back to the smallest ``id_col``,
    matching curate_corpus's min-id survivor rule). Pass e.g.
    ``F.length(F.col("text"))`` to keep the longest duplicate, or a
    joined LM-score column to keep the highest-quality one.

    Requires a numeric (integral) ``id_col``: selection is one
    map-side-partial ``max(struct(score, -id))`` aggregate per
    component — no per-component window, so a whale cluster costs a
    partial-aggregated shuffle key, never a single hot reducer sorting
    the whole component. Unclustered rows never enter the aggregate.

    Round 12: keep/drop is decided in ONE final pass — ``df`` is
    scanned twice total (once feeding the representative aggregate,
    once for the output join) instead of three times (the old
    unclustered-filter + semi-join + union shape) — at corpus scale
    that is one full scan saved per call.

    A ``clusters`` map that lists an id more than once (under several
    components, or as a repeated row) counts the id in its smallest
    component, so every ``df`` row is emitted at most once.
    """
    cl = clusters.groupBy(F.col(cluster_id_col).alias("__cl_id")).agg(
        F.min(comp_col).alias("__cl_comp")
    )
    joined = df.join(cl, df[id_col] == cl["__cl_id"], "left")
    clustered = joined.filter(F.col("__cl_comp").isNotNull())
    s = (score if score is not None else F.lit(0)).cast("double")
    rep_ids = (
        clustered.groupBy("__cl_comp")
        .agg(
            F.max(
                F.struct(
                    s.alias("s"),
                    (-F.col(id_col).cast("long")).alias("negid"),
                )
            ).alias("m")
        )
        .select((-F.col("m.negid")).alias("__rep_id"))
    )
    return (
        joined.join(rep_ids, df[id_col] == rep_ids["__rep_id"], "left")
        .filter(
            F.col("__cl_comp").isNull() | F.col("__rep_id").isNotNull()
        )
        .select(*df.columns)
    )


# --------------------------------------------------------------------------
# ExactSubstr-style duplicated spans (Lee et al. 2021, arXiv:2107.06499)
# --------------------------------------------------------------------------

def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 20,
) -> DataFrame:
    """Maximal duplicated token spans, the word-level analogue of
    ExactSubstr dedup ("Deduplicating Training Data Makes Language
    Models Better", Lee et al. 2021): a position is *duplicated* when
    the ``span_tokens``-gram starting there occurs at least twice in
    the corpus (any document, any position — including elsewhere in
    the same document); maximal runs of consecutive duplicated
    positions are merged into one span per run (gaps-and-islands).
    The reference paper suffix-arrays raw bytes; word-level shingles
    give the same "verbatim repeated passage" signal with shuffle-
    friendly fixed-width keys.

    Output: ``(doc_id, start_pos, end_pos, span_len)`` — 1-based
    token positions, ``end_pos`` inclusive, ``span_len = end_pos -
    start_pos + 1 >= span_tokens``.

    Scale: shingles are xxhash64-compressed to 8-byte keys (the gram
    strings never shuffle); duplicate marking is a map-side-partial
    ``groupBy(hash)`` + semi-join — NOT a count window, so a
    boilerplate gram repeated millions of times partial-aggregates
    inside each map task instead of piling onto one window reducer,
    and the join side is AQE-broadcastable/skew-splittable. Island
    merging is one window + groupBy over ``(doc, position)``. No
    self-join, no pair fan-out; cost linear in corpus token count.
    """
    if span_tokens < 2:
        raise ValueError(f"span_tokens must be >= 2, got {span_tokens}")
    from ..functions.text import ws_token_array
    from ..tokenizers import _ensure_parallelism

    ll = int(span_tokens)
    docs = _ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"),
        ws_token_array(F.col(text_col)).alias("ts"),
    )
    grams = F.when(
        F.size("ts") >= ll,
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - F.lit(ll - 1)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("ts"), i, ll))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    pos = docs.select(
        "doc_id", F.posexplode(grams).alias("p0", "h")
    ).select("doc_id", (F.col("p0") + 1).cast("long").alias("i"), "h")
    dup_h = (
        pos.groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > 1)
        .select("h")
    )
    dup = pos.join(dup_h, "h", "leftsemi")
    isl = dup.withColumn(
        "grp",
        F.col("i")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("i")),
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("i").alias("start_pos"),
        (F.min("i") + F.count(F.lit(1)) + F.lit(ll - 2)).alias("end_pos"),
        (F.count(F.lit(1)) + F.lit(ll - 1)).alias("span_len"),
    ).drop("grp")


def duplicated_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 20,
) -> DataFrame:
    """Per-document duplicate coverage from :func:`duplicated_spans`:
    how much of each document is verbatim-repeated corpus text — the
    per-doc quality signal the ExactSubstr paper deduplicates on (and
    the natural `dup_ratio > x` curation gate).

    Spans from one document can overlap (two islands separated by a
    missing start position still cover intersecting token ranges when
    ``span_tokens > 2``), so coverage is an interval-union sweep: one
    running-max window over span ends, each span contributing only
    tokens past both the previous furthest end and its own start.

    Output: ``(doc_id, n_tokens, dup_tokens, dup_ratio)`` — one row
    per input document, zeros when nothing repeats.

    Scale: the sweep is a window per document ordered by start — span
    counts per doc are bounded by token counts, and the final join
    back to the corpus is an equi-join on doc id.
    """
    from ..functions.text import ws_token_array
    from ..tokenizers import _ensure_parallelism

    spans = duplicated_spans(df, id_col, text_col, span_tokens)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("start_pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = F.greatest(
        F.coalesce(F.max("end_pos").over(w), F.lit(0).cast("long")),
        F.col("start_pos") - 1,
    )
    per_doc = (
        spans.withColumn(
            "inc", F.greatest(F.lit(0).cast("long"), F.col("end_pos") - frontier)
        )
        .groupBy("doc_id")
        .agg(F.sum("inc").alias("dup_tokens"))
    )
    docs = _ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"),
        F.size(ws_token_array(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    return docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long")).alias(
            "dup_tokens"
        ),
        (
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
        ).alias("dup_ratio"),
    )


# integer weight scale for the rational IDF (see weighted_jaccard_*)
W_SCALE = 10**6

# Rational probabilistic-IDF weight (BM25's idf shape, floor-scaled to
# integers — see weighted_jaccard_near_duplicates). ONE definition
# shared by the operator and tools/weighted_bench.py so the measured
# growth gate can never drift from what the operator actually selects
# (round-8 advisor #3). ``n`` is a SQL expression for the corpus size
# (a column name or an integer literal).
W_EXPR = "((2 * {n} - 2 * df + 1) * {scale}) div (2 * df + 1)"


def weighted_prefix_tokens(
    cand_toks: DataFrame, totals: DataFrame, t_scaled: int
) -> DataFrame:
    """``(id, token)`` prefix rows of the weighted-PPJoin filter: the
    minimal leading set under descending-weight (rarest-first) order
    whose remaining suffix weight still reaches ``t * W(doc)`` —
    lossless (see weighted_jaccard_near_duplicates docstring).
    ``cand_toks`` must carry ``(id, token, w)``; ``totals``
    ``(id, wtotal)``. decimal(38,0) keeps the scaled comparison exact
    with no BIGINT-overflow risk. Shared verbatim by the operator and
    the growth-gate bench (tools/weighted_bench.py)."""
    w_ord = Window.partitionBy("id").orderBy(
        F.col("w").desc(), F.col("token").asc()
    )
    w_all = Window.partitionBy("id")
    dec = "decimal(38,0)"
    with_tot = cand_toks.join(totals, "id").select(
        "id",
        "token",
        "w",
        "wtotal",
        F.sum("w")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("w").over(w_all).alias("cand_total"),
    )
    return with_tot.filter(
        (
            (F.col("cand_total") - F.col("cum") + F.col("w")).cast(dec)
            * F.lit(W_SCALE).cast(dec)
        )
        >= F.lit(t_scaled).cast(dec) * F.col("wtotal").cast(dec)
    ).select("id", "token")


def weighted_jaccard_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    tokenizer: Tokenizer | None = None,
    max_df_frac: float = 1.0,
) -> DataFrame:
    """TF-IDF-WEIGHTED set-Jaccard near-dup pairs — the dedup flavor
    that stops stopword-heavy boilerplate from gluing unrelated
    documents together: each distinct token carries a rarity weight
    and ``J_w(x,y) = W(x ∩ y) / W(x ∪ y)``, so two docs sharing only
    "the and of to" score near 0 while docs sharing rare content
    score near their unweighted Jaccard.

    Determinism contract (the hash-gate requirement that rules out
    ``ln``-based IDF — libm is not bit-identical across engines): the
    weight is the RATIONAL probabilistic IDF, scaled to integers::

        w(t) = ((2N - 2df + 1) * 10^6) div (2df + 1)   [BM25's idf
                shape, floor-scaled; strictly decreasing in df]

    and every accumulation is BIGINT addition (associative-exact),
    with the threshold test as integer cross-multiplication
    (``shared * 10^6 >= round(t * 10^6) * union``) — no float enters
    until the final display score.

    Scale shape — weighted-PPJoin prefix filtering (round 7; the
    weighted analogue of the unweighted path's pigeonhole prefix):
    candidates come from an inverted-index equi-join over each
    document's PREFIX tokens only, where the prefix is the minimal
    leading set — tokens ordered by DESCENDING weight (= ascending
    document frequency, rarest first) — whose remaining suffix weight
    is ``< t * W(x)``. LOSSLESS: for any qualifying pair, its
    first-in-order shared token must lie in BOTH prefixes (if it
    didn't, every shared token would sit in the suffix, so
    ``W(x ∩ y) <= W(suffix) < t*W(x) <= t*W(x ∪ y)`` — below
    threshold), so joining prefix×prefix finds every pair the full
    inverted index would. Because prefixes are weight-ordered, hot
    stopword-class tokens (tiny weight, huge postings lists) land in
    the SUFFIX of any document with content words and never enter
    candidate generation — the quadratic stopword fan-out of the raw
    shared-token join is gone without giving up exactness. Candidate
    pairs are then verified by one ``array_intersect`` over per-doc
    ``(token, weight)`` arrays (JVM-side, codegen) — no second
    token-level shuffle. Doc frequencies are one map-side-partial
    groupBy; per-doc totals broadcast back onto pairs (narrow joins).

    ``max_df_frac < 1`` additionally drops tokens present in more
    than that fraction of docs from candidate generation AND from the
    shared weight (their weight still counts in the totals); a pair
    sharing nothing but capped tokens is missed, which is exactly the
    boilerplate this operator exists to ignore. Default 1.0 = exact —
    and, with the prefix filter, scale-safe.

    Output: ``(l_id, r_id, wjaccard)`` (double, round 6).
    """
    t_scaled = int(round(float(threshold) * W_SCALE))
    if not 0 < t_scaled <= W_SCALE:
        raise ValueError("threshold must be in (0, 1]")
    if not 0.0 < float(max_df_frac) <= 1.0:
        raise ValueError("max_df_frac must be in (0, 1]")
    tokenizer = tokenizer or WhitespaceTokzr()
    toks = _token_sets(df, id_col, text_col, tokenizer).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_docs = df.select(F.count(F.lit(1)).alias("n"))
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    weighted = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "df",
            "n",
            F.expr(W_EXPR.format(n="n", scale=W_SCALE)).alias("w"),
        )
    )
    tw = toks.join(weighted, "token").select(
        "id", "token", "w", "df", "n"
    )
    totals = tw.groupBy("id").agg(F.sum("w").alias("wtotal"))
    totals = totals.persist(StorageLevel.MEMORY_AND_DISK)
    # cand_toks fans out to three consumers (prefix selection, the
    # candidate join, verification arrays) — persist AND materialize
    # eagerly: a lazily-cached frame consumed by parallel stages of
    # ONE job gets recomputed per stage before the cache fills
    # (measured 20 s -> 4.7 s at sf0.01), so the count() below is
    # what makes the persist actually shared
    cand_toks = tw.filter(
        F.col("df").cast("double")
        <= F.lit(float(max_df_frac)) * F.col("n").cast("double")
    ).select("id", "token", "w").persist(StorageLevel.MEMORY_AND_DISK)
    cand_toks.count()
    totals.count()
    # --- weighted-PPJoin prefix (lossless, see docstring) ---------
    # order candidate tokens rarest-first; token i is in the prefix
    # iff the candidate weight remaining AT it (suffix incl. itself)
    # still reaches t * W_full(doc) — once the remainder drops below
    # the bound, no suffix-only overlap can qualify. Selection frame
    # shared with the growth-gate bench via weighted_prefix_tokens.
    dec = "decimal(38,0)"
    prefix = weighted_prefix_tokens(cand_toks, totals, t_scaled).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    prefix.count()  # materialize before the self-join's two readers
    cands = (
        prefix.select(F.col("id").alias("l_id"), "token")
        .join(prefix.select(F.col("id").alias("r_id"), "token"), "token")
        .filter(F.col("l_id") < F.col("r_id"))
        .select("l_id", "r_id")
        .distinct()
    )
    # verify: shared weight via one array_intersect over per-doc
    # (token, w) arrays — same-token structs are identical on both
    # sides (w is a global per-token weight), so struct-equality
    # intersection IS token intersection
    arrs = cand_toks.groupBy("id").agg(
        F.collect_list(F.struct("token", "w")).alias("arr")
    )
    shared = (
        cands.join(
            arrs.select(F.col("id").alias("l_id"), F.col("arr").alias("l_arr")),
            "l_id",
        )
        .join(
            arrs.select(F.col("id").alias("r_id"), F.col("arr").alias("r_arr")),
            "r_id",
        )
        .select(
            "l_id",
            "r_id",
            F.aggregate(
                F.array_intersect("l_arr", "r_arr"),
                F.lit(0).cast("long"),
                lambda acc, s: acc + s["w"],
            ).alias("shared_w"),
        )
    )
    lt = totals.select(
        F.col("id").alias("l_id"), F.col("wtotal").alias("l_total")
    )
    rt = totals.select(
        F.col("id").alias("r_id"), F.col("wtotal").alias("r_total")
    )
    out = (
        shared.join(lt, "l_id")
        .join(rt, "r_id")
        .withColumn(
            "union_w",
            F.col("l_total") + F.col("r_total") - F.col("shared_w"),
        )
        # decimal(38,0) like the prefix-selection comparison above:
        # on extreme corpora (very long docs of rare tokens, w up to
        # ~n*W_SCALE) shared_w * W_SCALE can exceed BIGINT; the
        # comparison is exact integers either way, and the oracle
        # twin widens to HUGEINT for the same range (round-7 advisor)
        .filter(
            F.col("shared_w").cast(dec) * F.lit(W_SCALE).cast(dec)
            >= F.lit(t_scaled).cast(dec) * F.col("union_w").cast(dec)
        )
        .select(
            "l_id",
            "r_id",
            F.round(
                F.col("shared_w").cast("double")
                / F.col("union_w").cast("double"),
                6,
            ).alias("wjaccard"),
        )
    )
    out = out.localCheckpoint()
    toks.unpersist()
    cand_toks.unpersist()
    totals.unpersist()
    prefix.unpersist()
    return out
