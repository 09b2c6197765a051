"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship prefix-filtered Jaccard self-join at
sf0.001. ``queries()`` — one callable per implemented operator from
SURVEY.md §2 plus the beyond-reference pipeline operators (dedup /
ANN / text analysis / streaming-shaped aggregations).
``oracle_sql()`` — the DuckDB mirror of each query; expression shapes
match the Spark side exactly (same casts, fold orders, rounding) so
the driver's row-count + schema + value-hash comparison passes.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jaccard_join_duckdb_spark import (
    QGramsTokzr,
    WhitespaceTokzr,
    jaccard_inner_join,
    jaccard_inner_join_brute_force,
    jaccard_self_join,
    jaccard_self_join_brute_force,
)
from jaccard_join_duckdb_spark.functions.text import (
    doc_fingerprint,
    lang_id,
    text_stats,
    token_counts,
)
from jaccard_join_duckdb_spark.operators.dedup import (
    connected_components,
    exact_duplicate_groups,
    minhash_index,
    minhash_match,
    minhash_near_duplicates,
    ngram_jaccard_near_duplicates,
    simhash_fingerprints,
    simhash_near_duplicates,
)
from jaccard_join_duckdb_spark.operators.curate import curate_corpus
from jaccard_join_duckdb_spark.operators.evaluate import evaluate
from jaccard_join_duckdb_spark.operators.similarity import (
    cosine_near_duplicates,
    cosine_topk_bruteforce,
    cosine_topk_pandas,
    ivf_topk,
    lsh_bucket_topk,
)
from jaccard_join_duckdb_spark.plans import oracle_ext, ref_sql
from jaccard_join_duckdb_spark.sources import load_table
from jaccard_join_duckdb_spark.streaming import hourly_event_stats, sessionize

# Shared parameters — referenced by BOTH the Spark callables and the
# oracle generators so the two sides can never drift.
T_SELF = 0.8          # whitespace self-join threshold
T_QGRAM = 0.8         # 3-gram self-join threshold
T_INNER = 0.8         # two-table join threshold
T_GT = 0.85           # stricter brute threshold used as evaluate() GT
T_MINHASH = 0.9
MAX_HAMMING = 3
NGRAM_Q = 5
T_NGRAM = 0.9
T_CONTAIN = 0.95
NGRAM_DECON_N = 8      # word-level window for n-gram decontamination
ANN_K = 5
ANN_QUERY_PRED = "vec_id < 10"
# The synthetic embeddings are near-orthogonal (max pairwise cosine
# ~0.51 at sf0.01), so a realistic 0.95 near-dup threshold returns the
# empty set; 0.4 keeps the operator's output non-trivial for the gate.
T_EMB_COS = 0.4
LSH_PLANES = 4
LSH_BANDS = 4
ANN_BANDS = 8          # bands for the OR-amplified ANN top-k path
EMB_DIM = 64

# distinct_rows=True: the synthetic corpus is lowercase, so token
# rows are unique per doc — enables the compiled array-intersect
# verification path (validated against the DuckDB oracle at sf0.01).
_WS = WhitespaceTokzr(distinct_rows=True)
_QG = QGramsTokzr(3)

# Two-table join input: documents split by doc_id parity (disjoint,
# scale-proportional halves of the same corpus).
_EVEN = "doc_id % 2 = 0"
_ODD = "doc_id % 2 = 1"
_DOCS_EVEN = f"(select * from documents where {_EVEN})"
_DOCS_ODD = f"(select * from documents where {_ODD})"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --------------------------------------------------------------------------
# reference-surface queries (SURVEY.md §2.8)
# --------------------------------------------------------------------------

def q_jaccard_self_ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_self_join(
        _docs(spark, sf_dir), "doc_id", "text", _WS, T_SELF
    )


def q_jaccard_self_ws_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_self_join_brute_force(
        _docs(spark, sf_dir), "doc_id", "text", _WS, T_SELF
    )


def q_jaccard_self_qgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_self_join(
        _docs(spark, sf_dir), "doc_id", "text", _QG, T_QGRAM
    )


def q_jaccard_inner_ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return jaccard_inner_join(
        docs.filter(_EVEN), docs.filter(_ODD),
        "doc_id", "doc_id", "text", "text", _WS, T_INNER,
    )


def q_jaccard_inner_ws_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return jaccard_inner_join_brute_force(
        docs.filter(_EVEN), docs.filter(_ODD),
        "doc_id", "doc_id", "text", "text", _WS, T_INNER,
    )


def q_jaccard_self_ws_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered self-join emitting the exact similarity (extension —
    SURVEY.md §7 M7; the reference's output is pairs only, §4.3.7)."""
    return jaccard_self_join(
        _docs(spark, sf_dir), "doc_id", "text", _WS, T_SELF,
        with_score=True,
    )


def q_jaccard_inner_ws_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return jaccard_inner_join(
        docs.filter(_EVEN), docs.filter(_ODD),
        "doc_id", "doc_id", "text", "text", _WS, T_INNER,
        with_score=True,
    )


def q_jaccard_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most-similar pairs (beyond-reference: the reference has
    no LIMIT/top-k anywhere, SURVEY.md §2.7). Total order (jaccard
    desc, ids) makes the cut deterministic; physically a TakeOrdered
    — per-partition top-k then a 50-row driver merge, no full sort."""
    return (
        q_jaccard_self_ws_scored(spark, sf_dir)
        .orderBy(F.desc("jaccard"), "l_doc_id", "r_doc_id")
        .limit(50)
    )


def q_evaluate_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evaluate() (C5): filtered join at T_SELF scored against the
    stricter brute-force join at T_GT as ground truth — non-trivial
    fp so precision/recall are exercised."""
    docs = _docs(spark, sf_dir)
    gt = jaccard_self_join_brute_force(docs, "doc_id", "text", _WS, T_GT)
    sj = jaccard_self_join(docs, "doc_id", "text", _WS, T_SELF)
    m = evaluate(gt, sj, "l_doc_id", "r_doc_id", "l_doc_id", "r_doc_id")
    return spark.createDataFrame(
        [(int(m["tp"]), int(m["fp"]), int(m["fn"]),
          float(m["pr"]), float(m["rc"]), float(m["fm"]))],
        "tp long, fp long, fn long, pr double, rc double, fm double",
    )


# --------------------------------------------------------------------------
# dedup operators
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the leading 30-char snippet (the raw texts are
    unique by construction; the snippet collides, exercising the
    group-and-keep-min path with non-empty output)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 30).alias("snippet")
    )
    return exact_duplicate_groups(docs, "doc_id", "snippet")


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint(_docs(spark, sf_dir), "doc_id", "text").select(
        F.col("doc_id").alias("id"), "fingerprint"
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_duplicates(
        _docs(spark, sf_dir), "doc_id", "text", T_MINHASH
    )


def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline: quality gate → exact dedup
    → MinHash near-dup clusters → min-id survivors, hash-checked
    end-to-end against the single composed DuckDB statement."""
    return curate_corpus(
        _docs(spark, sf_dir), "doc_id", "text",
        min_quality=0.3, min_tokens=20, neardup_threshold=T_MINHASH,
    )


def q_corpus_curate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline with every optional stage engaged:
    quality gate → language gate (keep 'en') → exact dedup → MinHash
    near-dup clusters → banded-LSH embedding near-dup clusters (the
    semantic dedup token stages can't see; embeddings join on
    vec_id == doc_id) → min-id survivors, hash-checked end-to-end
    against the single composed DuckDB statement."""
    return curate_corpus(
        _docs(spark, sf_dir), "doc_id", "text",
        min_quality=0.3, min_tokens=20, neardup_threshold=T_MINHASH,
        allowed_langs=["en"],
        embeddings=load_table(spark, sf_dir, "embeddings"),
        emb_threshold=T_EMB_COS,
        emb_bands=LSH_BANDS, emb_planes=LSH_PLANES, emb_dim=EMB_DIM,
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup clusters: connected components over the
    MinHash near-dup edge set (survivor = min doc_id per cluster) —
    the step that turns pairwise matches into a keep/drop decision in
    a training-data pipeline."""
    pairs = minhash_near_duplicates(
        _docs(spark, sf_dir), "doc_id", "text", T_MINHASH
    )
    return connected_components(pairs, "l_id", "r_id").select(
        F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean-corpus canonicalization: MinHash near-dup pairs →
    connected components → ONE representative per cluster (longest
    text, tie min doc_id) plus every unclustered doc
    (operators/dedup.py keep_cluster_representatives — the apply step
    that turns dedup_clusters' labels into a deduplicated corpus)."""
    from jaccard_join_duckdb_spark.operators.dedup import (
        keep_cluster_representatives,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_near_duplicates(docs, "doc_id", "text", T_MINHASH)
    comps = connected_components(pairs, "l_id", "r_id")
    kept = keep_cluster_representatives(
        docs, "doc_id", comps, score=F.length(F.col("text"))
    )
    return kept.select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2021):
    maximal token spans whose every 8-gram occurs >= 2 times in the
    corpus (operators/dedup.py duplicated_spans — xxhash64-compressed
    shingles, one count window + one gaps-and-islands merge, no pair
    fan-out)."""
    from jaccard_join_duckdb_spark.operators.dedup import duplicated_spans

    return duplicated_spans(_docs(spark, sf_dir), "doc_id", "text", 8)


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate coverage (interval-union sweep over the
    duplicated spans): the `dup_ratio` curation signal ExactSubstr
    dedups on (operators/dedup.py duplicated_span_stats)."""
    from jaccard_join_duckdb_spark.operators.dedup import (
        duplicated_span_stats,
    )

    return duplicated_span_stats(_docs(spark, sf_dir), "doc_id", "text", 8)


def q_dedup_minhash_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-vs-corpus near-dup (the streaming-ingest batch twin):
    docs with doc_id % 10 == 0 are the incoming "batch", the rest the
    indexed corpus (operators/dedup.py minhash_index/minhash_match;
    streaming wrapper: streaming.near_dedup_stream)."""
    docs = _docs(spark, sf_dir)
    idx = minhash_index(
        docs.filter(F.col("doc_id") % 10 != 0), "doc_id", "text"
    )
    return minhash_match(
        docs.filter(F.col("doc_id") % 10 == 0), idx, "doc_id", "text",
        T_MINHASH,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_duplicates(
        _docs(spark, sf_dir), "doc_id", "text", MAX_HAMMING
    )


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(_docs(spark, sf_dir), "doc_id", "text")


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_near_duplicates(
        _docs(spark, sf_dir), "doc_id", "text", T_NGRAM, q=NGRAM_Q
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-subset pairs: |T(l) ∩ T(r)| / |T(l)| >=
    T_CONTAIN — catches excerpt/boilerplate containment that
    symmetric Jaccard misses (operators/dedup.py containment_join;
    prefix-filtered candidates, lossless vs the brute oracle)."""
    from jaccard_join_duckdb_spark.operators.dedup import containment_join

    return containment_join(
        _docs(spark, sf_dir), "doc_id", "text", T_CONTAIN
    )


# --------------------------------------------------------------------------
# similarity search (embeddings)
# --------------------------------------------------------------------------

def q_dedup_stream_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.dedup_stream (keep-min-id per
    fingerprint) over the colliding 30-char snippets; the streaming
    path itself is covered by tests/test_streaming.py."""
    from jaccard_join_duckdb_spark.streaming import dedup_stream

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 30).alias("text")
    )
    return dedup_stream(docs, "doc_id", "text")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: docs with doc_id % 50 == 0 play the benchmark
    set, the rest the training corpus; a hit = a training document
    containing >= 90% of a benchmark item's token set (asymmetric
    containment — the right metric when the training doc dwarfs the
    benchmark item; operators/dedup.py containment_match)."""
    from jaccard_join_duckdb_spark.operators.dedup import containment_match

    docs = _docs(spark, sf_dir)
    return containment_match(
        docs.filter(F.col("doc_id") % 50 == 0),
        docs.filter(F.col("doc_id") % 50 != 0),
        "doc_id", "text", 0.9,
    )


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-overlap decontamination (GPT-3/PaLM-style): a hit = ANY
    verbatim word-level 8-gram of a benchmark item appearing in a
    training document — catches embedded quotes that whole-item set
    containment dilutes (operators/dedup.py ngram_decontaminate).

    Gate input mirrors the real leak scenario the operator exists
    for (and what the PII gate does with injected emails): the
    "benchmark" items are the first 12 tokens of every 50th document
    — verbatim excerpts that ARE present in the training corpus — so
    each item is guaranteed >= 1 hit (its source doc, hit_frac 1.0)
    plus whatever cross-document verbatim runs the corpus carries.
    (The synthetic 31-word vocabulary makes ORGANIC verbatim 8-gram
    overlap vanishingly rare: a disjoint-split gate would grade a
    near-empty result.)"""
    from jaccard_join_duckdb_spark.operators.dedup import ngram_decontaminate

    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[ \t\r\n]", -1),
        lambda x: F.trim(x) != F.lit(""),
    )
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id", F.array_join(F.slice(toks, 1, 12), " ").alias("text")
    )
    return ngram_decontaminate(bench, docs, "doc_id", "text", n=NGRAM_DECON_N)


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered n-gram decontamination (operators/dedup.py
    bloom_ngram_decontaminate): the benchmark shingle set is folded
    into a broadcast Bloom word table (one bounded-width bit_or
    aggregation) and every corpus shingle is probed MAP-SIDE via k
    broadcast hash joins + bit tests; only survivors (true hits +
    the ~1e-4 FP trickle) reach the exact equi-join — the scale path
    for eval suites too large to broadcast as raw hash sets. No
    false negatives, so output is bit-identical to
    ngram_decontaminate and the oracle is the same SQL.

    Gate input mirrors q_decontaminate_ngram's leak scenario on a
    DIFFERENT split: the benchmark items are the first 14 tokens of
    every 25th document, so each item is guaranteed >= 1 verbatim hit
    (its source doc) and the graded row set differs from the plain
    ngram gate's."""
    from jaccard_join_duckdb_spark.operators.dedup import (
        bloom_ngram_decontaminate,
    )

    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[ \t\r\n]", -1),
        lambda x: F.trim(x) != F.lit(""),
    )
    bench = docs.filter(F.col("doc_id") % 25 == 0).select(
        "doc_id", F.array_join(F.slice(toks, 1, 14), " ").alias("text")
    )
    # Explicit m_bits skips the auto-size count (one less job). 2^20
    # bits = a <=16K-row word table, ~65K shingles at 16 bits/elem —
    # far above any sf's benchmark-side shingle count here.
    return bloom_ngram_decontaminate(
        bench, docs, "doc_id", "text", n=NGRAM_DECON_N, m_bits=1 << 20
    )


def q_mix_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing (sources.mix_corpora): two overlapping
    document sources sampled at different deterministic rates — the
    Pile/Dolma-style mixture step; the shared ids draw independently
    per source (source index salts the hash)."""
    from jaccard_join_duckdb_spark.sources import mix_corpora

    docs = _docs(spark, sf_dir)
    return mix_corpora(
        [(docs, 0.6), (docs.filter(F.col("doc_id") % 2 == 0), 0.5)],
        "doc_id",
    ).select("doc_id", "source")


def q_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing yield estimate (functions.text.packing_stats):
    per-length-bucket packed-sequence counts and fill ratios for a
    2048-token context."""
    from jaccard_join_duckdb_spark.functions.text import packing_stats

    return packing_stats(
        _docs(spark, sf_dir), "doc_id", "text",
        context_len=2048, bucket_width=16,
    )


def q_text_lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram cosine language ID (functions.langid,
    Cavnar-Trenkle style): fixes the stopword heuristic's blind spot
    on short / stopword-free docs. Pure column expressions; profiles
    are import-time literals shared with the oracle twin."""
    from jaccard_join_duckdb_spark.functions.langid import lang_id_trigram

    return lang_id_trigram(_docs(spark, sf_dir), "doc_id", "text")


def q_pack_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_stats on BPE subword counts (functions.bpe): the
    deployable packing estimate — budgets in the unit a trainer
    actually packs. The encode step is an Arrow-batched pandas UDF
    (iterative merges are not expressible in column functions), so
    this entry is rows-only-gated like the pandas ANN path; the
    encoder itself is pinned token-for-token against the pure-Python
    reference in tests/test_bpe.py, and the packing model shares
    packing_stats' hash-gated arithmetic via token_count_col."""
    from jaccard_join_duckdb_spark.functions.bpe import bpe_packing_stats

    return bpe_packing_stats(
        _docs(spark, sf_dir), "doc_id", "text",
        context_len=2048, bucket_width=16,
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic quota sampling (sources.
    stratified_sample): language-shaped corpus reweighting — keep 50%
    of English, all German, 25% of everything else; stratum salts the
    hash so samples are independent across strata."""
    from jaccard_join_duckdb_spark.sources import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), "doc_id", "lang",
        {"en": 0.5, "de": 1.0}, default_rate=0.25,
    ).select("doc_id", "lang")


def q_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global deterministic shuffle (sources.deterministic_shuffle):
    the reproducible input-randomization permutation before training
    shard writes — rank over the stable md5 uniform."""
    from jaccard_join_duckdb_spark.sources import deterministic_shuffle

    return deterministic_shuffle(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "shuffle_rank"
    )


def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (data mixing): split is
    a pure function of the row id (md5-derived uniform), stable across
    runs, engines, repartitions, and corpus growth — unlike
    partition-seeded sample()/rand() (sources.hash_split)."""
    from jaccard_join_duckdb_spark.sources import hash_split

    return hash_split(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "split"
    )


# PII gate input: the synthetic corpus carries no PII, so the gate
# query injects a deterministic email + URL + phone + IPv4 per
# document with engine-identical string arithmetic, then redacts —
# exercising every pattern with non-trivial counts.
_PII_SUFFIX_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com via https://site.example/page/' || "
    "CAST(doc_id AS VARCHAR) || ' or call +1555' || "
    "lpad(CAST(doc_id AS VARCHAR), 7, '0') || "
    "' from host 10.0.0.' || CAST(doc_id % 200 AS VARCHAR)"
)


def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions.text.redact_pii): URL/email/phone
    redaction with per-document counts, over documents with injected
    deterministic PII (see _PII_SUFFIX_SQL)."""
    from jaccard_join_duckdb_spark.functions.text import redact_pii

    docs = _docs(spark, sf_dir)
    withpii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via https://site.example/page/"),
            F.col("doc_id").cast("string"),
            F.lit(" or call +1555"),
            F.lpad(F.col("doc_id").cast("string"), 7, "0"),
            F.lit(" from host 10.0.0."),
            (F.col("doc_id") % 200).cast("string"),
        ).alias("text"),
    )
    return redact_pii(withpii, "doc_id", "text")


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (functions.text.
    repetition_stats): duplicate-token ratio, top-token fraction,
    duplicate-bigram ratio — explode → per-doc roll-up, no hot keys."""
    from jaccard_join_duckdb_spark.functions.text import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), "doc_id", "text")


def q_dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: exact all-pairs baseline (at scale
    pass ``block_expr`` = LSH bucket; see operators/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_duplicates(emb, "vec_id", "embedding", T_EMB_COS)


def q_dedup_embed_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, LSH-blocked — the scale path: the
    pair join is an equi-join on the sign-LSH bucket (shuffle on blk,
    no cartesian), candidates shrink ~2^n_planes-fold. Recall vs the
    exact baseline depends on n_planes; the oracle mirrors the same
    buckets so the gate checks the blocked semantics exactly."""
    from jaccard_join_duckdb_spark.operators.similarity import (
        hyperplanes,
        lsh_bucket_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planes = hyperplanes(EMB_DIM, LSH_PLANES)
    return cosine_near_duplicates(
        emb, "vec_id", "embedding", T_EMB_COS,
        block_expr=lsh_bucket_expr(F.col("embedding"), planes),
    )


def q_dedup_embed_cosine_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified sign-LSH near-dup: LSH_BANDS independent
    LSH_PLANES-bit buckets; a pair is a candidate on a collision in
    ANY band (the cosine analogue of MinHash banding). Band 0 uses the
    exact single-band plane set, so candidates — hence recall — are a
    structural superset of dedup_embed_cosine_lsh; the recall ordering
    single-band <= banded <= exact is pinned in
    tests/test_similarity.py."""
    from jaccard_join_duckdb_spark.operators.similarity import (
        cosine_near_duplicates_lsh_banded,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_duplicates_lsh_banded(
        emb, "vec_id", "embedding", T_EMB_COS,
        n_bands=LSH_BANDS, n_planes=LSH_PLANES, dim=EMB_DIM,
    )


def q_dedup_embed_lsh_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-vs-corpus embedding near-dup (the streaming-ingest batch
    twin, embedding modality): vectors with vec_id % 10 == 0 are the
    incoming "batch", the rest the indexed corpus
    (operators/similarity.py embedding_lsh_index/embedding_lsh_match;
    streaming wrapper: streaming.embed_near_dedup_stream)."""
    from jaccard_join_duckdb_spark.operators.similarity import (
        embedding_lsh_index,
        embedding_lsh_match,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = embedding_lsh_index(
        emb.filter(F.col("vec_id") % 10 != 0), "vec_id", "embedding",
        n_bands=LSH_BANDS, n_planes=LSH_PLANES, dim=EMB_DIM,
    )
    return embedding_lsh_match(
        emb.filter(F.col("vec_id") % 10 == 0), idx, "vec_id", "embedding",
        T_EMB_COS,
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(
        emb, emb.filter(ANN_QUERY_PRED), "vec_id", "embedding", ANN_K
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(
        emb, emb.filter(ANN_QUERY_PRED), "vec_id", "embedding", ANN_K,
        n_planes=LSH_PLANES, dim=EMB_DIM,
    )


def q_ann_lsh_banded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified (banded) sign-LSH top-k — the production ANN path:
    candidates collide in ANY of ANN_BANDS LSH_PLANES-bit bands, exact
    cosine ranks survivors. Band 0 reuses ann_lsh_topk's plane set, so
    recall is a structural superset of the single-band path (~0.16 →
    0.80 at 8×4, 0.94 at 16×4, on the sf0.1 embeddings —
    BENCHMARKS.md recall table)."""
    from jaccard_join_duckdb_spark.operators.similarity import lsh_banded_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_banded_topk(
        emb, emb.filter(ANN_QUERY_PRED), "vec_id", "embedding", ANN_K,
        n_bands=ANN_BANDS, n_planes=LSH_PLANES, dim=EMB_DIM,
    )


def q_ann_pandas_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NumPy-matmul Pandas-UDF top-k, projected to the rank-only
    columns ``(query_id, neighbor_id, rank)``: float64 matmul
    summation order differs from the SQL fold in the 6th decimal, so
    the score itself is not oracle-comparable — the neighbor set and
    rank order are (brute-force oracle, same projection). Score
    agreement with the expression path is separately tested with
    tolerance in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_pandas(
        emb, emb.filter(ANN_QUERY_PRED), "vec_id", "embedding", ANN_K
    ).select("query_id", "neighbor_id", "rank")


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k. Centroids = the n_lists
    smallest-id corpus vectors (deterministic, SQL-reproducible —
    oracle_ext.ivf_topk_sql mirrors assignment and probing
    bit-for-bit); recall vs brute force is tested in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(ANN_QUERY_PRED), "vec_id", "embedding", ANN_K,
        n_lists=16, n_probe=4,
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): IVF-cluster the embeddings, pair
    only within clusters at cosine >= T_EMB_COS, merge chains via
    connected components, keep the min-id survivor per component
    (operators/similarity.py semantic_dedup; min_ids centroids keep
    the whole pipeline SQL-reproducible)."""
    from jaccard_join_duckdb_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", T_EMB_COS, n_lists=16
    )


# --------------------------------------------------------------------------
# multimodal plumbing (Arrow-batched mapInPandas; fake kernels are
# deterministic md5 derivations, so the full pipeline is oracle-graded
# even though real codecs are stubbed — sources/multimodal.py)
# --------------------------------------------------------------------------

def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asset table (payload = utf-8 text bytes) → Arrow-batched decode
    stage → (asset_id, width, height, channels, n_bytes)."""
    from jaccard_join_duckdb_spark.sources.multimodal import (
        decode_image_meta,
        make_asset_table,
    )

    docs = _docs(spark, sf_dir)
    return decode_image_meta(make_asset_table(docs, "doc_id", "text"))


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asset table → Arrow-batched feature extraction, unnested to
    scalar rows (asset_id, dim, value); values are exact dyadic
    rationals so float32 vs DOUBLE compare bit-equal."""
    from jaccard_join_duckdb_spark.sources.multimodal import (
        extract_features,
        make_asset_table,
    )

    docs = _docs(spark, sf_dir)
    feats = extract_features(make_asset_table(docs, "doc_id", "text"))
    return feats.select(
        "asset_id", F.posexplode("feature").alias("pos", "v")
    ).select(
        "asset_id",
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.col("v").cast("double").alias("value"),
    )


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asset table (modality=audio) → Arrow-batched audio decode →
    (asset_id, channels, sample_rate, bits_per_sample, n_samples,
    duration_s, n_bytes); the real path parses WAV RIFF headers
    stdlib-only (tested on crafted payloads in test_multimodal)."""
    from jaccard_join_duckdb_spark.sources.multimodal import (
        decode_audio_meta,
        make_asset_table,
    )

    docs = _docs(spark, sf_dir)
    return decode_audio_meta(
        make_asset_table(docs, "doc_id", "text", modality="audio")
    )


# Boilerplate gate input: the synthetic corpus is single-line, so the
# gate wraps each document into 8-token lines and appends a footer
# line shared by every document (+ a second footer on even doc_ids) —
# engine-identical string arithmetic, mirroring the PII injection.
_BOILER_FOOTER = "follow us on example social media"
_BOILER_FOOTER2 = "subscribe to the example newsletter"
_BOILER_WRAP_SQL = (
    "array_to_string(list_transform("
    "generate_series(1, CAST(ceil(len(ts) / 8.0) AS BIGINT)), "
    "x -> array_to_string(list_slice(ts, (x-1)*8 + 1, (x-1)*8 + 8), ' ')), "
    "chr(10))"
)
_BOILER_TEXT_SQL = (
    "(select doc_id, "
    f"{_BOILER_WRAP_SQL} || chr(10) || '{_BOILER_FOOTER}' || "
    f"case when doc_id % 2 = 0 then chr(10) || '{_BOILER_FOOTER2}' "
    "else '' end as text from (select doc_id, "
    "list_filter(str_split_regex(lower(text), '[ \t\r\n]'), "
    "t -> trim(t) != '') as ts from documents))"
)


def q_corpus_curate_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline with the Gopher-style repetition gate
    engaged (operators.curate.curate_corpus max_dup_token_ratio /
    max_top_token_frac): degenerate/boilerplate docs the quality
    score misses are cut before the dedup stages; hash-checked
    end-to-end as ONE composed DuckDB statement."""
    return curate_corpus(
        _docs(spark, sf_dir), "doc_id", "text",
        min_quality=0.3, min_tokens=20, neardup_threshold=T_MINHASH,
        max_dup_token_ratio=0.72, max_top_token_frac=0.12,
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concrete packing assignment (functions.text.pack_sequences):
    every document gets a (seq_id, slot) under the bucketed packing
    model that pack_stats estimates — the training-data writer's
    materialization step."""
    from jaccard_join_duckdb_spark.functions.text import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), "doc_id", "text",
        context_len=2048, bucket_width=16,
    )


def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL statistics (functions.text.url_domain_stats)
    over documents with two injected URLs each — one per-doc-varying
    domain, one shared tracker domain — the blocklist planning view."""
    from jaccard_join_duckdb_spark.functions.text import url_domain_stats

    docs = _docs(spark, sf_dir)
    withurls = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://tracker.example/pix?d="),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return url_domain_stats(withurls, "doc_id", "text")


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (functions.text.
    remove_boilerplate_lines): the CCNet/Dolma pass — lines shared by
    >= max(2, 5% of docs) distinct documents are dropped from every
    document (injected footers; see _BOILER_TEXT_SQL)."""
    from jaccard_join_duckdb_spark.functions.text import (
        remove_boilerplate_lines,
    )

    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[ \t\r\n]", -1),
        lambda x: F.trim(x) != F.lit(""),
    )
    wrapped = F.array_join(
        F.transform(
            F.sequence(
                F.lit(1),
                F.ceil(F.size("ts").cast("double") / F.lit(8.0)).cast("int"),
            ),
            lambda x: F.array_join(
                F.slice(F.col("ts"), (x - 1) * 8 + 1, 8), " "
            ),
        ),
        "\n",
    )
    with_lines = docs.select("doc_id", toks.alias("ts")).select(
        "doc_id",
        F.concat(
            wrapped,
            F.lit("\n" + _BOILER_FOOTER),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("\n" + _BOILER_FOOTER2)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return remove_boilerplate_lines(with_lines, "doc_id", "text")


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(_docs(spark, sf_dir), "doc_id", "text").withColumnRenamed(
        "doc_id", "id"
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(_docs(spark, sf_dir), "doc_id", "text").withColumnRenamed(
        "doc_id", "id"
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir), "doc_id", "text").withColumnRenamed(
        "doc_id", "id"
    )


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by BM25 weight
    (rational idf — see functions.text.bm25_top_terms)."""
    from jaccard_join_duckdb_spark.functions.text import bm25_top_terms

    return bm25_top_terms(_docs(spark, sf_dir), "doc_id", "text", k=3)


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus profile (counts + exact doc-length percentiles;
    functions.text.corpus_profile — pass exact=False for the t-digest
    sketch beyond ~1e9 docs)."""
    from jaccard_join_duckdb_spark.functions.text import corpus_profile

    return corpus_profile(_docs(spark, sf_dir), "doc_id", "text")


# --------------------------------------------------------------------------
# events: windowed + session aggregations (streaming-shaped; same
# transform is stream-applied in jaccard_join_duckdb_spark.streaming)
# --------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_event_stats(load_table(spark, sf_dir, "events"))


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"))


def q_events_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the custom stateful streaming operator
    (streaming.running_user_totals, applyInPandasWithState): final
    per-user event count + decimal-exact value sum. Stream == batch
    (integer-cents state vs decimal sum) is pinned in
    tests/test_streaming.py; this gate grades the shared semantics."""
    from jaccard_join_duckdb_spark.streaming import running_user_totals

    return running_user_totals(load_table(spark, sf_dir, "events"))


def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval (range) join: purchases within 30 minutes after a
    click by the same user. Batch twin of the watermarked
    stream-stream join (streaming.interval_join; stream == batch is
    tested in tests/test_streaming.py)."""
    from jaccard_join_duckdb_spark.streaming import interval_join

    events = load_table(spark, sf_dir, "events")
    return interval_join(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (SIGMOD'03) fingerprint selection over word
    4-shingles, window 4 — selection depends on hash ORDER, so both
    engines hash with the portable md5-uint32 construction
    (operators.dedup.winnow_fingerprints)."""
    from jaccard_join_duckdb_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), "doc_id", "text")


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-passage candidates: pairs sharing >= 2 winnowing
    fingerprints after the max_df boilerplate/skew cap
    (operators.dedup.winnow_duplicate_pairs)."""
    from jaccard_join_duckdb_spark.operators.dedup import (
        winnow_duplicate_pairs,
    )

    return winnow_duplicate_pairs(_docs(spark, sf_dir), "doc_id", "text")


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase occurrences of "hash join" with 1-based start
    positions (operators.search.phrase_search over on-the-fly
    postings; the bucketed-index path is pytest-covered)."""
    from jaccard_join_duckdb_spark.operators.search import phrase_search_scan

    return phrase_search_scan(_docs(spark, sf_dir), "doc_id", "text", "hash join")


_PROBE_PHRASES = [
    ("p1", "hash join"),
    ("p2", "the hash join"),
    ("p3", "scan filter"),
]


def q_phrase_search_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-phrase probe: all three phrases in one join + one
    count-equals-k aggregation (operators.search.phrase_search_many
    — the decontamination-forensics shape, no per-phrase job
    loop)."""
    from jaccard_join_duckdb_spark.operators.search import (
        phrase_search_many,
        token_postings,
    )

    phrases = spark.createDataFrame(_PROBE_PHRASES, ["phrase_id", "phrase"])
    return phrase_search_many(
        token_postings(_docs(spark, sf_dir), "doc_id", "text"), phrases
    )


def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under an add-1
    smoothed corpus LM — the CCNet/Gopher-style perplexity quality
    signal, built on the same counts ngram_counts produces
    (functions.text.lm_score)."""
    from jaccard_join_duckdb_spark.functions.text import lm_score

    return lm_score(_docs(spark, sf_dir), "doc_id", "text", n=2, k=1.0)


def q_text_lm_score_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out stupid-backoff LM scoring (Brants et al. 2007): train
    bigram counts on 90% of the corpus (doc_id % 10 != 0), score the
    held-out 10% — unseen bigrams take the alpha-discounted add-1
    unigram backoff (functions.text.train_ngram_lm /
    lm_score_apply, the same path every micro-batch of
    streaming.lm_score_stream runs)."""
    from jaccard_join_duckdb_spark.functions.text import (
        lm_score_apply,
        train_ngram_lm,
    )

    docs = _docs(spark, sf_dir)
    lm = train_ngram_lm(
        docs.filter(F.col("doc_id") % 10 != 0), "doc_id", "text",
        smoothing="stupid_backoff",
    )
    return lm_score_apply(
        lm, docs.filter(F.col("doc_id") % 10 == 0), "doc_id", "text"
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher / MassiveWeb quality-filter rule set (Rae et al.
    2021 App. A) as named per-rule booleans + the conjunction
    (functions/text.py gopher_rules — scan-shaped expressions,
    whole-stage codegen)."""
    from jaccard_join_duckdb_spark.functions.text import gopher_rules

    return gopher_rules(_docs(spark, sf_dir), "doc_id", "text")


def q_text_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity tiering (Wenzek et al. 2020): every doc
    scored under the corpus bigram LM, tertile-cut into head / middle
    / tail quality buckets (functions/text.py perplexity_buckets —
    cutoffs are one exact-percentile scalar broadcast back, no global
    sort)."""
    from jaccard_join_duckdb_spark.functions.text import perplexity_buckets

    return perplexity_buckets(_docs(spark, sf_dir), "doc_id", "text")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023): docs with
    doc_id % 10 == 0 play the target distribution, the rest the raw
    source; every source doc gets logp_target - logp_source as its
    selection weight (functions/text.py dsir_weights)."""
    from jaccard_join_duckdb_spark.functions.text import dsir_weights

    docs = _docs(spark, sf_dir)
    return dsir_weights(
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter(F.col("doc_id") % 10 != 0),
        "doc_id", "text",
    )


def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide word trigram counts with count-pruning at 2 —
    the n-gram-LM (KenLM) prep primitive
    (functions.text.ngram_counts)."""
    from jaccard_join_duckdb_spark.functions.text import ngram_counts

    return ngram_counts(_docs(spark, sf_dir), "doc_id", "text", n=3, min_count=2)


def q_heavy_ngrams_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters (operators/sketch.py
    heavy_hitters): word trigrams occurring >= 4 times corpus-wide,
    EXACT counts — the sketch (bounded depth x width counters, never
    an undercount) drops the long tail map-side before any shuffle,
    and only the surviving head takes the exact groupBy; the oracle
    is therefore the plain ngram-counts SQL with min_count=4. The
    boilerplate-discovery shape where the key space is corpus-sized
    but only the head matters."""
    from jaccard_join_duckdb_spark.operators.sketch import heavy_ngrams

    return heavy_ngrams(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=4
    )


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined decontamination verdict table: set-containment ⋈
    verbatim-8-gram hits with a both/set_only/ngram_only verdict per
    (benchmark item, training doc) — same %50 split as the
    decontaminate gate (operators/dedup.py contamination_report)."""
    from jaccard_join_duckdb_spark.operators.dedup import contamination_report

    docs = _docs(spark, sf_dir)
    return contamination_report(
        docs.filter(F.col("doc_id") % 50 == 0),
        docs.filter(F.col("doc_id") % 50 != 0),
        "doc_id", "text", threshold=0.9, n=8, min_hits=1,
    )


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector validation stats over the embeddings table (dim /
    NULL / NaN / zero counts + order-stable squared norm;
    operators.similarity.embedding_stats)."""
    from jaccard_join_duckdb_spark.operators.similarity import embedding_stats

    return embedding_stats(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


def q_winnow_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aligned winnowing fingerprint matches with positions — the
    passage-localization view (operators.dedup.winnow_shared_passages)."""
    from jaccard_join_duckdb_spark.operators.dedup import (
        winnow_shared_passages,
    )

    return winnow_shared_passages(_docs(spark, sf_dir), "doc_id", "text")


def q_text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative token-frequency quality signals (perplexity
    proxy with hash-stable integer/rational math;
    functions.text.token_rarity_stats)."""
    from jaccard_join_duckdb_spark.functions.text import token_rarity_stats

    return token_rarity_stats(_docs(spark, sf_dir), "doc_id", "text")


def q_edit_distance_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table Levenshtein<=1 linkage (even-key customers vs
    odd-key customers — the NCVR snapshot-linkage shape;
    operators.editdist.edit_distance_join, deletes method)."""
    from jaccard_join_duckdb_spark.operators.editdist import (
        edit_distance_join,
    )

    cust = load_table(spark, sf_dir, "customer")
    return edit_distance_join(
        cust.filter(F.col("c_custkey") % 2 == 0),
        cust.filter(F.col("c_custkey") % 2 == 1),
        "c_custkey",
        "c_custkey",
        "c_name",
        "c_name",
        max_dist=1,
        method="deletes",
    )


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution as-of join: each purchase matched to the MOST
    RECENT click by the same user within 1 hour, or NULLs
    (operators.temporal.asof_join — single-shuffle union-and-carry,
    never a range join; the oracle twin is DuckDB's native
    ASOF LEFT JOIN, deduplicated to the same greatest-event_id
    tie rule)."""
    from jaccard_join_duckdb_spark.operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        purchases,
        clicks,
        key="user_id",
        ts_col="ts",
        right_cols=["event_id"],
        tolerance=F.expr("INTERVAL 1 HOUR"),
        tie_col="event_id",
    )


def q_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein<=1 self-join over customer names — the record-
    linkage predicate on the reference's own NCVR/Febrl turf
    (operators.editdist; FastSS deletion-neighborhood candidates,
    banded levenshtein verify; the q-gram Ed-Join path is fuzz- and
    pytest-covered)."""
    from jaccard_join_duckdb_spark.operators.editdist import (
        edit_distance_self_join,
    )

    return edit_distance_self_join(
        load_table(spark, sf_dir, "customer"),
        "c_custkey",
        "c_name",
        max_dist=1,
        method="deletes",
    )


# --------------------------------------------------------------------------
# relational analytics over the TPC-H-ish tables (scan / broadcast
# join / agg / window at the largest-table scale)
# --------------------------------------------------------------------------

def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary (TPC-H Q1 shape). Decimal-exact sums cast to
    double — partition-order independent."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").alias("sum_base_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_orders_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer ⋈ nation (dims broadcast) → per-nation
    revenue."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_jaccard_self_ws_bag_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics brute join (SURVEY §4.3.5: duplicate tokens kept;
    overlap counts duplicate cross-matches — reproduced, not fixed)."""
    return jaccard_self_join_brute_force(
        _docs(spark, sf_dir), "doc_id", "text",
        WhitespaceTokzr(return_set=False), T_SELF,
    )


# SQL-surface demonstration (S5 + J7): identical ANSI text runs on the
# Spark SQL surface (over a temp view) and on DuckDB — two correlated
# scalar subqueries with decimal-exact arithmetic.
_CORR_SQL = """
select c_nationkey, count(*) as n_above
from {customer} c
where CAST(c_acctbal AS DECIMAL(18,2))
      * (select count(*) from {customer} c2
         where c2.c_nationkey = c.c_nationkey)
    > (select sum(CAST(c_acctbal AS DECIMAL(18,2))) from {customer} c2
       where c2.c_nationkey = c.c_nationkey)
group by c_nationkey
"""


def q_sql_corr_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(_CORR_SQL.format(customer="customer_v"))


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, date band filters, top-10 by
    decimal-exact revenue (deterministic tie-break on orderkey)."""
    cutoff = "1998-01-01"
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .filter((F.col("o_orderdate") < cutoff) & (F.col("l_shipdate") > cutoff))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_orders_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup (hypertable-style time bucketing)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("revenue"),
        )
    )


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (W1 shape) on orders: top-3 by totalprice per
    customer, deterministic tie-break on orderkey."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: prefix-filtered Jaccard self-join over the sf0.001
    documents table."""
    return q_jaccard_self_ws(spark, "/root/testdata/sf0.001")


# The driver grades exactly the names in _GATED (kept <= 50, the
# driver's row window). The window ROTATES across rounds so every
# --------------------------------------------------------------------------
# canonicalization / chunking / graph (round-6 additions)
# --------------------------------------------------------------------------

# Deterministic mojibake suffixes for the normalize gate — the
# synthetic corpus is clean ASCII, so the canonicalization pass needs
# injected typographic/accent/control mess to have anything to do.
# Index = doc_id % 4; identical literals on the SQL side.
_MESS_SUFFIXES = [
    " Héllo… “quoted” – dash",
    " Ça-va déjà •bullet",
    " ŁÓDŹ \x01ctl  many   spaces ",
    "",
]


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text canonicalization (functions.canon.normalize_text): accent
    folding, typographic punctuation → ASCII, control-char strip,
    whitespace collapse — over documents with injected mojibake
    suffixes (see _MESS_SUFFIXES)."""
    from jaccard_join_duckdb_spark.functions.canon import normalize_text

    docs = _docs(spark, sf_dir)
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _MESS_SUFFIXES]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    messy = docs.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    return normalize_text(messy, "doc_id", "text")


def _mess_text_sql() -> str:
    cases = " ".join(
        f"when {i} then {oracle_ext._sql_str(s)}"
        for i, s in enumerate(_MESS_SUFFIXES)
    )
    return (
        "(select doc_id, text || case doc_id % 4 "
        + cases
        + " end as text from documents)"
    )


def q_dedup_lines_in_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-line removal (functions.canon.
    dedup_lines_in_doc) over documents with an injected repeated
    footer and a repeated leading excerpt — keep-first semantics,
    blank lines preserved."""
    from jaccard_join_duckdb_spark.functions.canon import (
        dedup_lines_in_doc,
    )

    docs = _docs(spark, sf_dir)
    lined = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nSubscribe to our newsletter\n"),
            F.substring(F.col("text"), 1, 40),
            F.lit("\nSubscribe to our newsletter\n"),
            F.substring(F.col("text"), 1, 40),
        ).alias("text"),
    )
    return dedup_lines_in_doc(lined, "doc_id", "text")


_LINED_TEXT_SQL = (
    "(select doc_id, text || chr(10) || 'Subscribe to our newsletter' "
    "|| chr(10) || substring(text, 1, 40) || chr(10) || "
    "'Subscribe to our newsletter' || chr(10) || "
    "substring(text, 1, 40) as text from documents)"
)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking (functions.canon.chunk_documents)
    — 64-token windows every 48 tokens (16-token overlap), the
    RAG/long-context shard-prep pass."""
    from jaccard_join_duckdb_spark.functions.canon import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), "doc_id", "text",
        chunk_tokens=64, stride=48,
    )


def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-arithmetic PageRank (operators.graph.pagerank) over the
    cites-next domain graph of documents with injected URLs: every doc
    links site{id%7} → hub → mirror{id%5}, and every third doc closes
    the loop mirror → site{(id+1)%7} — 13 nodes, ~47 edges, 10 exact
    scaled-BIGINT iterations (hash-gateable: no float anywhere in the
    recurrence)."""
    from jaccard_join_duckdb_spark.operators.graph import (
        domain_cooccurrence_edges,
        pagerank,
    )

    docs = _docs(spark, sf_dir)
    linked = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" http://hub.example/h?x="),
            F.col("doc_id").cast("string"),
            F.lit(" https://mirror"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example/m"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" https://site"),
                    ((F.col("doc_id") + 1) % 7).cast("string"),
                    F.lit(".example/x"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    edges = domain_cooccurrence_edges(linked, "doc_id", "text")
    return pagerank(edges, iterations=10)


_LINKED_TEXT_SQL = (
    "(select doc_id, text "
    "|| ' https://site' || CAST(doc_id % 7 AS VARCHAR) "
    "|| '.example/p/' || CAST(doc_id AS VARCHAR) "
    "|| ' http://hub.example/h?x=' || CAST(doc_id AS VARCHAR) "
    "|| ' https://mirror' || CAST(doc_id % 5 AS VARCHAR) "
    "|| '.example/m' "
    "|| case when doc_id % 3 = 0 then ' https://site' "
    "|| CAST((doc_id + 1) % 7 AS VARCHAR) || '.example/x' "
    "else '' end as text from documents)"
)


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics (functions.text.c4_rules, Raffel et al.
    2020 §2.2) over documents restructured into sentence-shaped lines
    with injected rule triggers: a too-short line everywhere, an
    enable-javascript line every 4th doc, 'lorem ipsum' every 5th, a
    curly brace every 7th, and an unpunctuated trailing line."""
    from jaccard_join_duckdb_spark.functions.text import c4_rules

    docs = _docs(spark, sf_dir)
    t = F.col("text")
    d = F.col("doc_id")
    lined = docs.select(
        "doc_id",
        F.concat(
            F.substring(t, 1, 45), F.lit(" one."),
            F.lit("\ntiny."),
            F.lit("\n"), F.substring(t, 46, 45),
            F.lit(" more tail words here!"),
            F.lit("\nA third full sentence lives right here ok?"),
            F.when(
                d % 4 == 0,
                F.lit("\nPlease enable javascript to view this site."),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 0, F.lit("\nlorem ipsum dolor sit amet.")
            ).otherwise(F.lit("")),
            F.when(d % 7 == 0, F.lit("\ncode { brace }")).otherwise(
                F.lit("")
            ),
            F.lit("\nno terminal punctuation on this line"),
        ).alias("text"),
    )
    return c4_rules(lined, "doc_id", "text")


_C4_TEXT_SQL = (
    "(select doc_id, substring(text, 1, 45) || ' one.' "
    "|| chr(10) || 'tiny.' "
    "|| chr(10) || substring(text, 46, 45) || ' more tail words here!' "
    "|| chr(10) || 'A third full sentence lives right here ok?' "
    "|| case when doc_id % 4 = 0 then chr(10) || "
    "'Please enable javascript to view this site.' else '' end "
    "|| case when doc_id % 5 = 0 then chr(10) || "
    "'lorem ipsum dolor sit amet.' else '' end "
    "|| case when doc_id % 7 = 0 then chr(10) || 'code { brace }' "
    "else '' end "
    "|| chr(10) || 'no terminal punctuation on this line' as text "
    "from documents)"
)


def q_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (functions.canon.split_sentences) over
    documents with injected terminal punctuation (the synthetic corpus
    has none) — dense per-doc sentence numbering incl. the
    unterminated trailing fragment."""
    from jaccard_join_duckdb_spark.functions.canon import split_sentences

    docs = _docs(spark, sf_dir)
    t = F.col("text")
    punctuated = docs.select(
        "doc_id",
        F.concat(
            F.substring(t, 1, 60), F.lit(". "),
            F.substring(t, 61, 60), F.lit("! Final bit? tail fragment"),
        ).alias("text"),
    )
    return split_sentences(punctuated, "doc_id", "text")


_PUNCT_TEXT_SQL = (
    "(select doc_id, substring(text, 1, 60) || '. ' || "
    "substring(text, 61, 60) || '! Final bit? tail fragment' as text "
    "from documents)"
)


def q_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus vocabulary with cumulative coverage
    (functions.text.build_vocab) — the tokenizer-prep view, ranked by
    the two-level (count, first-char) scheme with NO row-bearing
    SinglePartition exchange."""
    from jaccard_join_duckdb_spark.functions.text import build_vocab

    return build_vocab(_docs(spark, sf_dir), "doc_id", "text", top_k=100)


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators.curate.corpus_diff) between documents
    and a mutated copy: every 13th doc removed, every 7th doc's text
    edited, new ids appended from every 11th doc — the incremental-
    refresh audit view."""
    from jaccard_join_duckdb_spark.operators.curate import corpus_diff

    docs = _docs(spark, sf_dir)
    d, t = F.col("doc_id"), F.col("text")
    new = (
        docs.filter(d % 13 != 0)
        .select(
            "doc_id",
            F.when(d % 7 == 0, F.concat(t, F.lit(" v2 edit")))
            .otherwise(t)
            .alias("text"),
        )
        .union(
            docs.filter(d % 11 == 0).select(
                (d + 10000000).alias("doc_id"), t.alias("text")
            )
        )
    )
    return corpus_diff(docs, new, "doc_id", "text")


_DIFF_NEW_SQL = (
    "(select doc_id, case when doc_id % 7 = 0 then text || ' v2 edit' "
    "else text end as text from documents where doc_id % 13 != 0 "
    "union all "
    "select doc_id + 10000000 as doc_id, text from documents "
    "where doc_id % 11 = 0)"
)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type pivot (Spark's native pivot with an
    explicit value list — one groupBy, no second scan): one count
    column per type plus the total."""
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    cols = [F.col("user_id")] + [
        F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
        for t in _EVENT_TYPES
    ]
    # n_total is a TRUE count(*) per user (matching the oracle), not
    # the sum of the pivoted columns — a new or NULL event_type must
    # still count toward the total even though it gets no pivot column
    totals = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    # null-safe equi-join: DuckDB's GROUP BY retains a NULL user_id
    # group, and both sides here would carry it — a plain inner join
    # would silently drop that row (round-7 advisor)
    pv = p.select(*cols)
    return pv.join(
        totals, pv["user_id"].eqNullSafe(totals["user_id"])
    ).select(pv["user_id"], *[f"n_{t}" for t in _EVENT_TYPES], "n_total")


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation x month revenue ROLLUP (DataFrame ``rollup`` — Spark
    plans one shuffle with partial aggregation per grouping set):
    subtotals per nation and the grand total ride along as NULL
    grouping keys, like the reference's relational surface never
    could."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = (
        orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        )
        .join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .select(
            "n_name",
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("timestamp")
            .alias("month"),
            "o_totalprice",
        )
    )
    return j.rollup("n_name", "month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled 6-hour resampling per event type
    (operators.temporal.resample_events): dense time grid x type,
    zero rows where nothing happened (is_gap audit flag)."""
    from jaccard_join_duckdb_spark.operators.temporal import (
        resample_events,
    )

    ev = load_table(spark, sf_dir, "events")
    return resample_events(
        ev, "ts", "event_type", value_col="value", step_hours=6
    )


def q_events_resample_7h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled 7-HOUR resampling — 24 % 7 != 0, the step class
    where a uniform from-the-minimum grid diverges from the
    day-anchored fact buckets after the first midnight and silently
    drops events (round-7 advisor fix): the grid is now derived from
    the same per-day anchored offsets as the buckets, so every fact
    row lands on a grid row for ANY step."""
    from jaccard_join_duckdb_spark.operators.temporal import (
        resample_events,
    )

    ev = load_table(spark, sf_dir, "events")
    return resample_events(
        ev, "ts", "event_type", value_col="value", step_hours=7
    )


# Non-toy PageRank gate graph (round-7 verdict #5): ~10k nodes where
# convergence genuinely matters, vs domain_pagerank's 13-node toy.
# Deterministic pure-function-of-id edges (reproducible in both
# engines, no randomness): two multiplicative ring hops for mixing
# plus a Zipf-ish hub family dst = src % 2^(src % 11) — power-of-two
# moduli concentrate in-degree on the low ids with a roughly
# geometric (power-law-binned) tail, the web-graph skew shape.
# 5 iterations (reduced so the DuckDB recursive-CTE twin, which
# materializes iterations x N rows, stays cheap) — enough rounds that
# rank mass visibly propagates through the hub hierarchy.
_ZIPF_N = 10_000


def q_domain_pagerank_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-arithmetic PageRank (operators.graph.pagerank) over a
    deterministic ~10k-node Zipf-skewed digraph: ring hops
    (src*7+1, src*13+5 mod N) + hub edges src % 2^(src % 11). The
    scaled-BIGINT recurrence is bit-identical to the recursive-CTE
    twin regardless of partitioning (sf_dir unused — the graph is
    synthetic by design, like the bench graphs)."""
    from jaccard_join_duckdb_spark.operators.graph import pagerank

    n = _ZIPF_N
    s = F.col("src")
    base = spark.range(n).select(F.col("id").alias("src"))
    # F.shiftleft only takes a literal bit count — expr for the
    # column-valued shift
    hub_mod = F.expr(
        "cast(shiftleft(1, cast(src % 11 as int)) as long)"
    )
    edges = (
        base.select(s.alias("src"), ((s * 7 + 1) % n).alias("dst"))
        .union(base.select(s, ((s * 13 + 5) % n).cast("long").alias("dst")))
        .union(base.select(s, (s % hub_mod).cast("long").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
    )
    return pagerank(edges, iterations=5)


_ZIPF_EDGES_SQL = f"""
select src, dst from (
  select i as src, (i * 7 + 1) % {_ZIPF_N} as dst from range({_ZIPF_N}) t(i)
  union all
  select i, (i * 13 + 5) % {_ZIPF_N} from range({_ZIPF_N}) t(i)
  union all
  select i, i % (1 << (i % 11)) from range({_ZIPF_N}) t(i))
where src != dst
"""


def q_dedup_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-weighted Jaccard near-dup (operators.dedup.
    weighted_jaccard_near_duplicates): rare-token-weighted overlap in
    exact scaled-integer arithmetic — the boilerplate-resistant dedup
    flavor."""
    from jaccard_join_duckdb_spark.operators.dedup import (
        weighted_jaccard_near_duplicates,
    )

    return weighted_jaccard_near_duplicates(
        _docs(spark, sf_dir), "doc_id", "text", T_SELF
    )


def q_jaccard_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most-similar documents PER document (k=3) — the
    "related items" kNN view over the scored prefix-filtered
    self-join: symmetrize the unordered pairs, rank neighbors per
    source by (jaccard desc, neighbor asc), keep rn <= k. The window
    partitions by source doc — parallel, no global ordering."""
    pairs = jaccard_self_join(
        _docs(spark, sf_dir), "doc_id", "text", _WS, T_SELF,
        with_score=True,
    )
    # Symmetrize IN-STREAM (round 12): each unordered pair explodes
    # into its two directed rows inside the same stage, so the scored
    # pair pipeline appears ONCE in the plan — the round-11 shape
    # (union of two projections over a persisted pair table) needed
    # the persist precisely because the union's branches were two
    # consumers; this needs neither the cache write nor the two cache
    # reads. Row multiset identical to the union by construction.
    both = F.array(
        F.struct(
            F.col("l_doc_id").alias("src"),
            F.col("r_doc_id").alias("neighbor"),
            F.col("jaccard"),
        ),
        F.struct(
            F.col("r_doc_id").alias("src"),
            F.col("l_doc_id").alias("neighbor"),
            F.col("jaccard"),
        ),
    )
    sym = pairs.select(F.explode(both).alias("e")).select(
        "e.src", "e.neighbor", "e.jaccard"
    )
    w = Window.partitionBy("src").orderBy(
        F.col("jaccard").desc(), F.col("neighbor").asc()
    )
    return (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "src", "neighbor", "jaccard",
            F.col("rn").cast("int").alias("rn"),
        )
    )


def _jaccard_knn_sql() -> str:
    scored = ref_sql.self_filtered_sql(
        "documents", "doc_id", "text", _WS, T_SELF,
        "l_doc_id", "r_doc_id", score=True,
    )
    return f"""
with pairs as ({scored}),
sym as (
  select l_doc_id as src, r_doc_id as neighbor, jaccard from pairs
  union all
  select r_doc_id, l_doc_id, jaccard from pairs)
select src, neighbor, jaccard, CAST(rn AS INTEGER) as rn from (
  select src, neighbor, jaccard,
         row_number() over (partition by src
                            order by jaccard desc, neighbor asc) as rn
  from sym) where rn <= 3
"""


# The driver grades the first 50 queries() entries each round; the
# window ROTATES so every declared query keeps earning driver-signed
# CORRECTNESS rows (round-5 verdict #2; history: r5 full grade of the
# then-50 names, r6 wave-2 promotion, r8/r9 partial rotations). The
# union of CORRECTNESS_r05.. + this window covers the full inventory
# (verified in tests/test_entry_contract.py). Everything NOT in
# _GATED is still hash-verified every round by
# ``tools/check_entry.py`` (merges both dicts) and pytest.
_GATED = [
    # --- round-11 rotation (VERDICT r10 #5): the window holds 50 but
    # 54 names now carry pre-r10 rows (9 r8-signed + 45 r9-signed —
    # 104 names / 50 slots means a few always age to 3 rounds). This
    # window takes ALL 9 r8-signed names (most stale) plus 41 of the
    # 45 r9-signed ones; the 4 deferred to r12 (dedup_exact,
    # deterministic_shuffle, embedding_stats, orders_rollup) are
    # code-untouched simple relational queries with per-round
    # check_entry hash-verification and dedicated pytest coverage.
    # The r10-signed batch (incl. the jaccard family re-planned by
    # this round's gate re-calibration) is hash-verified on the new
    # code by tools/check_entry.py each round and rotates back in
    # r12. No flagship keepers this round: jaccard_self_ws /
    # evaluate_metrics are r10-signed and their slots go to staler
    # names.
    # --- r8-signed backlog (9: three rounds stale by r11) ---
    "corpus_curate_clean",
    "dup_span_stats",
    "events_resample_7h",
    "jaccard_self_ws_bag_brute",
    "phrase_search_many",
    "split_sentences",
    "text_lm_score_backoff",
    "url_domains",
    "winnow_passages",
    # --- r9-signed backlog (41 of 45) ---
    "ann_ivf_topk",
    "ann_lsh_topk",
    "ann_pandas_topk",
    "boilerplate_lines",
    "build_vocab",
    "c4_rules",
    "chunk_documents",
    "contamination_report",
    "corpus_curate",
    "corpus_diff",
    "decontaminate_bloom",
    "dedup_canonical",
    "dedup_embed_cosine_lsh",
    "dedup_lines_in_doc",
    "dedup_minhash",
    "dedup_weighted",
    "domain_pagerank",
    "domain_pagerank_zipf",
    "dsir_weights",
    "dup_spans",
    "edit_distance_link",
    "events_pivot",
    "events_resample",
    "events_sessionize",
    "gopher_rules",
    "heavy_ngrams_cms",
    "multimodal_audio",
    "ngram_counts",
    "pack_sequences",
    "pack_stats_bpe",
    "phrase_search",
    "semantic_dedup",
    "sql_corr_subquery",
    "stratified_sample",
    "text_bm25_topk",
    "text_lang_id_trigram",
    "text_lm_score",
    "text_ppl_buckets",
    "text_rarity",
    "winnow_fingerprints",
    "winnow_pairs",
]


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EVERY declared query — the full inventory. :func:`queries`
    (driver-graded) and :func:`extra_queries` (check_entry/pytest-
    graded) are disjoint selections from this dict keyed by
    ``_GATED``."""
    return {
        # --- reference surface (SURVEY.md §2) ---
        "jaccard_self_ws": q_jaccard_self_ws,
        "jaccard_self_ws_brute": q_jaccard_self_ws_brute,
        "jaccard_self_qgram": q_jaccard_self_qgram,
        "jaccard_inner_ws": q_jaccard_inner_ws,
        "jaccard_self_ws_scored": q_jaccard_self_ws_scored,
        "jaccard_topk_pairs": q_jaccard_topk_pairs,
        "evaluate_metrics": q_evaluate_metrics,
        "sql_corr_subquery": q_sql_corr_subquery,
        # --- relational analytics (scan/join/agg/window/top-k) ---
        "shipping_priority": q_shipping_priority,
        "orders_monthly": q_orders_monthly,
        "top_orders_per_customer": q_top_orders_per_customer,
        "lineitem_pricing": q_lineitem_pricing,
        "orders_revenue_by_nation": q_orders_revenue_by_nation,
        # --- dedup / decontamination / splitting ---
        "dedup_exact": q_dedup_exact,
        "dedup_fingerprint": q_dedup_fingerprint,
        "dedup_minhash": q_dedup_minhash,
        "dedup_minhash_match": q_dedup_minhash_match,
        "dedup_clusters": q_dedup_clusters,
        "dedup_canonical": q_dedup_canonical,
        "dup_spans": q_dup_spans,
        "dup_span_stats": q_dup_span_stats,
        "corpus_curate_full": q_corpus_curate_full,
        "edit_distance_join": q_edit_distance_join,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram": q_dedup_ngram,
        "dedup_containment": q_dedup_containment,
        "decontaminate": q_decontaminate,
        "decontaminate_ngram": q_decontaminate_ngram,
        "decontaminate_bloom": q_decontaminate_bloom,
        "data_split": q_data_split,
        "mix_corpora": q_mix_corpora,
        "pack_stats": q_pack_stats,
        "pack_stats_bpe": q_pack_stats_bpe,
        "text_lang_id_trigram": q_text_lang_id_trigram,
        "dedup_stream_batch": q_dedup_stream_batch,
        # --- similarity search (embeddings) ---
        "dedup_embed_cosine": q_dedup_embed_cosine,
        "dedup_embed_cosine_lsh_banded": q_dedup_embed_cosine_lsh_banded,
        "dedup_embed_lsh_match": q_dedup_embed_lsh_match,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_banded_topk": q_ann_lsh_banded_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "semantic_dedup": q_semantic_dedup,
        # --- multimodal plumbing ---
        "multimodal_decode": q_multimodal_decode,
        "multimodal_features": q_multimodal_features,
        # --- text analysis ---
        "text_token_counts": q_text_token_counts,
        "text_stats": q_text_stats,
        "text_lang_id": q_text_lang_id,
        "text_redact_pii": q_text_redact_pii,
        "text_repetition": q_text_repetition,
        "text_bm25_topk": q_text_bm25_topk,
        "corpus_profile": q_corpus_profile,
        # --- events (streaming-shaped batch twins) ---
        "events_hourly": q_events_hourly,
        "events_sessionize": q_events_sessionize,
        "events_running_totals": q_events_running_totals,
        "events_interval_join": q_events_interval_join,
        "events_asof_join": q_events_asof_join,
        # --- beyond-window additions (rotated INTO the gate round 6) ---
        "stratified_sample": q_stratified_sample,
        "deterministic_shuffle": q_deterministic_shuffle,
        "multimodal_audio": q_multimodal_audio,
        "boilerplate_lines": q_boilerplate_lines,
        "url_domains": q_url_domains,
        "pack_sequences": q_pack_sequences,
        "corpus_curate_clean": q_corpus_curate_clean,
        "jaccard_inner_ws_scored": q_jaccard_inner_ws_scored,
        "edit_distance_link": q_edit_distance_link,
        "text_rarity": q_text_rarity,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_pairs": q_winnow_pairs,
        "phrase_search": q_phrase_search,
        "phrase_search_many": q_phrase_search_many,
        "ngram_counts": q_ngram_counts,
        "heavy_ngrams_cms": q_heavy_ngrams_cms,
        "text_lm_score": q_text_lm_score,
        "text_lm_score_backoff": q_text_lm_score_backoff,
        "text_ppl_buckets": q_text_ppl_buckets,
        "dsir_weights": q_dsir_weights,
        "gopher_rules": q_gopher_rules,
        "contamination_report": q_contamination_report,
        "winnow_passages": q_winnow_passages,
        "embedding_stats": q_embedding_stats,
        "jaccard_inner_ws_brute": q_jaccard_inner_ws_brute,
        "corpus_curate": q_corpus_curate,
        "jaccard_self_ws_bag_brute": q_jaccard_self_ws_bag_brute,
        "simhash_fingerprints": q_simhash_fingerprints,
        "dedup_embed_cosine_lsh": q_dedup_embed_cosine_lsh,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_pandas_topk": q_ann_pandas_topk,
        # --- round-6 wave 2: canonicalization / chunking / graph ---
        "text_normalize": q_text_normalize,
        "dedup_lines_in_doc": q_dedup_lines_in_doc,
        "chunk_documents": q_chunk_documents,
        "domain_pagerank": q_domain_pagerank,
        "domain_pagerank_zipf": q_domain_pagerank_zipf,
        "c4_rules": q_c4_rules,
        "split_sentences": q_split_sentences,
        "build_vocab": q_build_vocab,
        "corpus_diff": q_corpus_diff,
        "events_pivot": q_events_pivot,
        "orders_rollup": q_orders_rollup,
        "events_resample": q_events_resample,
        "events_resample_7h": q_events_resample_7h,
        "dedup_weighted": q_dedup_weighted,
        "jaccard_knn": q_jaccard_knn,
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The GRADED inventory — exactly the ``_GATED`` names (<= 50, the
    driver's row window). See ``_GATED`` for the rotation story."""
    q = _all_queries()
    return {k: q[k] for k in _GATED}


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every declared query NOT in this round's driver window. Same
    contract as :func:`queries`; graded by ``tools/check_entry.py``
    (which merges both dicts) + pytest, and by the driver in the round
    where the rotation window covers it (all of these were driver-green
    in CORRECTNESS_r05.json)."""
    q = _all_queries()
    gated = set(_GATED)
    return {k: v for k, v in q.items() if k not in gated}


def _evaluate_metrics_sql() -> str:
    gt = ref_sql.self_brute_sql(
        "documents", "doc_id", "text", _WS, T_GT, "l_doc_id", "r_doc_id"
    )
    sj = ref_sql.self_filtered_sql(
        "documents", "doc_id", "text", _WS, T_SELF, "l_doc_id", "r_doc_id"
    )
    return f"""
with gt_raw as ({gt}), sj_raw as ({sj}),
gtc as (select least(l_doc_id, r_doc_id) as gtk1,
               greatest(l_doc_id, r_doc_id) as gtk2 from gt_raw),
sjc as (select least(l_doc_id, r_doc_id) as sjk1,
               greatest(l_doc_id, r_doc_id) as sjk2 from sj_raw),
cm as (select * from gtc full outer join sjc
       on gtc.gtk1 = sjc.sjk1 and gtc.gtk2 = sjc.sjk2),
cnt as (select
  count(*) filter (sjk1 is not null and sjk2 is not null) as tp,
  count(*) filter (gtk1 is null) as fp,
  count(*) filter (sjk1 is null) as fn
  from cm)
select CAST(tp AS BIGINT) as tp, CAST(fp AS BIGINT) as fp,
       CAST(fn AS BIGINT) as fn,
       case when tp > 0 then CAST(tp AS DOUBLE) / (tp + fp)
            else CAST(0 AS DOUBLE) end as pr,
       case when tp > 0 then CAST(tp AS DOUBLE) / (tp + fn)
            else CAST(0 AS DOUBLE) end as rc,
       case when tp > 0 then
         2 * (CAST(tp AS DOUBLE) / (tp + fp)) * (CAST(tp AS DOUBLE) / (tp + fn))
           / ((CAST(tp AS DOUBLE) / (tp + fp)) + (CAST(tp AS DOUBLE) / (tp + fn)))
            else CAST(0 AS DOUBLE) end as fm
from cnt
"""


def _all_oracle_sql() -> dict[str, str]:
    """DuckDB twins for EVERY entry in :func:`_all_queries`.
    :func:`oracle_sql` / :func:`extra_oracle_sql` select by
    ``_GATED`` exactly like the query selectors."""
    return {
        "jaccard_self_ws": ref_sql.self_filtered_sql(
            "documents", "doc_id", "text", _WS, T_SELF, "l_doc_id", "r_doc_id"
        ),
        "jaccard_self_ws_brute": ref_sql.self_brute_sql(
            "documents", "doc_id", "text", _WS, T_SELF, "l_doc_id", "r_doc_id"
        ),
        "jaccard_self_qgram": ref_sql.self_filtered_sql(
            "documents", "doc_id", "text", _QG, T_QGRAM, "l_doc_id", "r_doc_id"
        ),
        "jaccard_inner_ws": ref_sql.inner_filtered_sql(
            _DOCS_EVEN, _DOCS_ODD, "doc_id", "doc_id", "text", "text",
            _WS, T_INNER, "l_doc_id", "r_doc_id",
        ),
        "jaccard_self_ws_scored": ref_sql.self_filtered_sql(
            "documents", "doc_id", "text", _WS, T_SELF, "l_doc_id",
            "r_doc_id", score=True,
        ),
        "jaccard_topk_pairs": (
            "select * from ("
            + ref_sql.self_filtered_sql(
                "documents", "doc_id", "text", _WS, T_SELF, "l_doc_id",
                "r_doc_id", score=True,
            )
            + ") order by jaccard desc, l_doc_id, r_doc_id limit 50"
        ),
        "evaluate_metrics": _evaluate_metrics_sql(),
        "dedup_exact": (
            "select md5(substring(text, 1, 30)) as text_hash, "
            "count(*) as n_dups, min(doc_id) as keep_id "
            "from documents group by 1 having count(*) >= 2"
        ),
        "dedup_fingerprint": (
            "select doc_id as id, "
            "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) "
            "as fingerprint from documents"
        ),
        "dedup_minhash": oracle_ext.minhash_neardup_sql(
            "documents", "doc_id", "text", T_MINHASH
        ),
        "edit_distance_join": """
select l.c_custkey as l_id, r.c_custkey as r_id,
       CAST(levenshtein(l.c_name, r.c_name) AS INTEGER) as dist
from customer l join customer r
  on l.c_custkey < r.c_custkey
 and abs(length(l.c_name) - length(r.c_name)) <= 1
where levenshtein(l.c_name, r.c_name) <= 1
""",
        "corpus_curate_full": oracle_ext.curate_corpus_sql(
            "documents", "doc_id", "text",
            min_quality=0.3, min_tokens=20,
            neardup_threshold=T_MINHASH,
            allowed_langs=["en"],
            emb_table="embeddings",
            emb_threshold=T_EMB_COS,
            emb_bands=LSH_BANDS, emb_planes=LSH_PLANES, emb_dim=EMB_DIM,
        ),
        "dedup_clusters": oracle_ext.connected_components_sql(
            oracle_ext.minhash_neardup_sql(
                "documents", "doc_id", "text", T_MINHASH
            ),
            "l_id", "r_id", "doc_id", "cluster_id",
        ),
        "dedup_canonical": oracle_ext.keep_cluster_representatives_sql(
            "documents", "doc_id", "text", T_MINHASH
        ),
        "dup_spans": oracle_ext.duplicated_spans_sql(
            "documents", "doc_id", "text", 8
        ),
        "dup_span_stats": oracle_ext.duplicated_span_stats_sql(
            "documents", "doc_id", "text", 8
        ),
        "dedup_minhash_match": oracle_ext.minhash_match_sql(
            "(select * from documents where doc_id % 10 = 0)",
            "(select * from documents where doc_id % 10 != 0)",
            "doc_id", "text", T_MINHASH,
        ),
        "dedup_simhash": oracle_ext.simhash_neardup_sql(
            "documents", "doc_id", "text", MAX_HAMMING
        ),
        "dedup_ngram": oracle_ext.ngram_jaccard_neardup_sql(
            "documents", "doc_id", "text", T_NGRAM, q=NGRAM_Q
        ),
        "dedup_containment": oracle_ext.containment_sql(
            "documents", "doc_id", "text", T_CONTAIN
        ),
        "decontaminate": oracle_ext.containment_match_sql(
            "(select * from documents where doc_id % 50 = 0)",
            "(select * from documents where doc_id % 50 != 0)",
            "doc_id", "text", 0.9,
        ),
        "decontaminate_ngram": oracle_ext.ngram_decontaminate_sql(
            "(select doc_id, array_to_string(list_slice("
            "list_filter(str_split_regex(lower(text), '[ \t\r\n]'), "
            "t -> trim(t) != ''), 1, 12), ' ') as text "
            "from documents where doc_id % 50 = 0)",
            "documents",
            "doc_id", "text", NGRAM_DECON_N,
        ),
        # Bloom prefilter has no false negatives and survivors take
        # the exact join, so the oracle is the PLAIN ngram-decon SQL
        # on the bloom gate's own split (% 25, first 14 tokens).
        "decontaminate_bloom": oracle_ext.ngram_decontaminate_sql(
            "(select doc_id, array_to_string(list_slice("
            "list_filter(str_split_regex(lower(text), '[ \t\r\n]'), "
            "t -> trim(t) != ''), 1, 14), ' ') as text "
            "from documents where doc_id % 25 = 0)",
            "documents",
            "doc_id", "text", NGRAM_DECON_N,
        ),
        "data_split": (
            "select doc_id, split from ("
            + oracle_ext.hash_split_sql("documents", "doc_id")
            + ")"
        ),
        "mix_corpora": oracle_ext.mix_corpora_sql(
            [
                ("documents", 0.6),
                ("(select * from documents where doc_id % 2 = 0)", 0.5),
            ],
            "doc_id", cols="doc_id",
        ),
        "pack_stats": oracle_ext.packing_stats_sql(
            "documents", "doc_id", "text",
            context_len=2048, bucket_width=16,
        ),
        # BPE counts come from a pre-encoded fixture keyed on
        # md5(text) (tools/gen_bpe_fixture.py; pure-Python encoder
        # pinned vs the Spark kernel in tests/test_bpe.py) — the
        # packing aggregation is packing_stats' SQL verbatim.
        "pack_stats_bpe": oracle_ext.bpe_packing_stats_sql(
            "documents", "doc_id", "text",
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "jaccard_join_duckdb_spark", "data",
                "bpe_counts_md5.parquet",
            ),
            context_len=2048, bucket_width=16,
        ),
        "text_redact_pii": oracle_ext.redact_pii_sql(
            f"(select doc_id, {_PII_SUFFIX_SQL} as text from documents)",
            "doc_id", "text",
        ),
        "text_repetition": oracle_ext.repetition_stats_sql(
            "documents", "doc_id", "text"
        ),
        "dedup_stream_batch": (
            "select min(doc_id) as id, "
            "md5(trim(regexp_replace(lower(substring(text, 1, 30)), "
            "'\\s+', ' ', 'g'))) as fingerprint "
            "from documents group by 2"
        ),
        "dedup_embed_cosine": oracle_ext.cosine_neardup_sql(
            "embeddings", "vec_id", "embedding", T_EMB_COS
        ),
        "dedup_embed_cosine_lsh_banded": oracle_ext.cosine_neardup_lsh_banded_sql(
            "embeddings", "vec_id", "embedding", T_EMB_COS,
            n_bands=LSH_BANDS, n_planes=LSH_PLANES, dim=EMB_DIM,
        ),
        "dedup_embed_lsh_match": oracle_ext.embedding_lsh_match_sql(
            "embeddings", "vec_id", "embedding",
            "vec_id % 10 = 0", "vec_id % 10 != 0", T_EMB_COS,
            n_bands=LSH_BANDS, n_planes=LSH_PLANES, dim=EMB_DIM,
        ),
        "ann_cosine_topk": oracle_ext.cosine_topk_sql(
            "embeddings", "vec_id", "embedding", ANN_QUERY_PRED, ANN_K
        ),
        "ann_lsh_banded_topk": oracle_ext.lsh_banded_topk_sql(
            "embeddings", "vec_id", "embedding", ANN_QUERY_PRED, ANN_K,
            n_bands=ANN_BANDS, n_planes=LSH_PLANES, dim=EMB_DIM,
        ),
        "ann_ivf_topk": oracle_ext.ivf_topk_sql(
            "embeddings", "vec_id", "embedding", ANN_QUERY_PRED, ANN_K,
            n_lists=16, n_probe=4,
        ),
        "semantic_dedup": oracle_ext.semantic_dedup_sql(
            "embeddings", "vec_id", "embedding", T_EMB_COS, n_lists=16
        ),
        "multimodal_decode": oracle_ext.multimodal_decode_sql(
            "documents", "doc_id", "text"
        ),
        "multimodal_features": oracle_ext.multimodal_features_sql(
            "documents", "doc_id", "text"
        ),
        "text_token_counts": oracle_ext.token_counts_sql(
            "documents", "doc_id", "text"
        ),
        "text_stats": oracle_ext.text_stats_sql("documents", "doc_id", "text"),
        "text_lang_id": oracle_ext.lang_id_sql("documents", "doc_id", "text"),
        "text_lang_id_trigram": oracle_ext.lang_id_trigram_sql(
            "documents", "doc_id", "text"
        ),
        "text_bm25_topk": oracle_ext.bm25_top_terms_sql(
            "documents", "doc_id", "text", k=3
        ),
        "corpus_profile": oracle_ext.corpus_profile_sql(
            "documents", "doc_id", "text"
        ),
        "events_hourly": """
select date_trunc('hour', ts) as window_start, event_type,
       count(*) as n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) as sum_value
from events group by 1, 2
""",
        "events_sessionize": """
with d as (
  select user_id, ts,
         case when ts - lag(ts) over (partition by user_id order by ts)
                   >= interval 30 minute
              then 1 else 0 end as brk
  from events),
s as (
  select user_id, ts,
         sum(brk) over (partition by user_id order by ts
                        rows unbounded preceding) as sid
  from d)
select min(ts) as session_start,
       max(ts) + interval 30 minute as session_end,
       user_id, count(*) as n_events
from s group by user_id, sid
""",
        "events_running_totals": """
select user_id, count(*) as n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) as sum_value
from events group by user_id
""",
        "events_interval_join": """
select l.event_id as l_event_id, r.event_id as r_event_id,
       l.user_id as user_id, l.ts as l_ts, r.ts as r_ts
from events l join events r
  on l.user_id = r.user_id
 and r.ts >= l.ts and r.ts <= l.ts + interval 30 minute
where l.event_type = 'click' and r.event_type = 'purchase'
""",
        # DuckDB's native ASOF LEFT JOIN, right side deduplicated to
        # the operator's greatest-event_id tie rule (DuckDB keeps an
        # ARBITRARY duplicate; the operator is deterministic), with
        # the 1-hour tolerance as a null-out post-filter (the nearest
        # row out of tolerance implies every other row is too).
        "events_asof_join": """
with l as (select event_id, user_id, ts from events
           where event_type = 'purchase'),
     r0 as (select event_id, user_id, ts from events
            where event_type = 'click'),
     r as (select * from r0
           qualify row_number() over (partition by user_id, ts
                                      order by event_id desc) = 1)
select l.event_id, l.user_id, l.ts,
       case when l.ts - r.ts <= interval 1 hour then r.ts end as r_ts,
       case when l.ts - r.ts <= interval 1 hour then r.event_id end
         as r_event_id
from l asof left join r
  on l.user_id = r.user_id and r.ts <= l.ts
""",
        "lineitem_pricing": """
select l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) as sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) as sum_base_price,
       count(*) as n_rows
from lineitem group by l_returnflag, l_linestatus
""",
        "orders_revenue_by_nation": """
select n_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) as revenue,
       count(*) as n_orders
from orders
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
group by n_name
""",
        "top_orders_per_customer": """
select o_custkey, o_orderkey, o_totalprice, rn from (
  select o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() over (partition by o_custkey
                                 order by o_totalprice desc, o_orderkey asc)
              AS INTEGER) as rn
  from orders) where rn <= 3
""",
        "sql_corr_subquery": _CORR_SQL.format(customer="customer"),
        "shipping_priority": """
select l_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
where c_mktsegment = 'BUILDING'
  and o_orderdate < TIMESTAMP '1998-01-01'
  and l_shipdate > TIMESTAMP '1998-01-01'
group by l_orderkey, o_orderdate, o_orderpriority
order by revenue desc, l_orderkey asc
limit 10
""",
        "orders_monthly": """
select CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) as month,
       count(*) as n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) as revenue
from orders group by 1
""",
        "stratified_sample": oracle_ext.stratified_sample_sql(
            "(select doc_id, lang from documents)", "doc_id", "lang",
            {"en": 0.5, "de": 1.0}, default_rate=0.25,
        ),
        "deterministic_shuffle": oracle_ext.deterministic_shuffle_sql(
            "documents", "doc_id", cols="doc_id"
        ),
        "multimodal_audio": oracle_ext.multimodal_audio_sql(
            "documents", "doc_id", "text"
        ),
        "boilerplate_lines": oracle_ext.remove_boilerplate_sql(
            _BOILER_TEXT_SQL, "doc_id", "text"
        ),
        "corpus_curate_clean": oracle_ext.curate_corpus_sql(
            "documents", "doc_id", "text",
            min_quality=0.3, min_tokens=20,
            neardup_threshold=T_MINHASH,
            max_dup_token_ratio=0.72, max_top_token_frac=0.12,
        ),
        "pack_sequences": oracle_ext.pack_sequences_sql(
            "documents", "doc_id", "text",
            context_len=2048, bucket_width=16,
        ),
        "url_domains": oracle_ext.url_domain_stats_sql(
            "(select doc_id, text || ' see https://site' || "
            "CAST(doc_id % 7 AS VARCHAR) || '.example/p/' || "
            "CAST(doc_id AS VARCHAR) || "
            "' and http://tracker.example/pix?d=' || "
            "CAST(doc_id AS VARCHAR) as text from documents)",
            "doc_id", "text",
        ),
        "jaccard_inner_ws_scored": ref_sql.inner_filtered_sql(
            _DOCS_EVEN, _DOCS_ODD, "doc_id", "doc_id", "text", "text",
            _WS, T_INNER, "l_doc_id", "r_doc_id", score=True,
        ),
        "text_rarity": oracle_ext.token_rarity_sql(
            "documents", "doc_id", "text"
        ),
        "winnow_fingerprints": oracle_ext.winnow_fingerprints_sql(
            "documents", "doc_id", "text"
        ),
        "winnow_pairs": oracle_ext.winnow_pairs_sql(
            "documents", "doc_id", "text"
        ),
        "phrase_search": oracle_ext.phrase_search_sql(
            "documents", "doc_id", "text", "hash join"
        ),
        "phrase_search_many": oracle_ext.phrase_search_many_sql(
            "documents", "doc_id", "text", _PROBE_PHRASES
        ),
        "ngram_counts": oracle_ext.ngram_counts_sql(
            "documents", "doc_id", "text", n=3, min_count=2
        ),
        # CMS prefilter never undercounts and survivors take an exact
        # count, so the oracle is the PLAIN counts SQL at the gate's
        # threshold.
        "heavy_ngrams_cms": oracle_ext.ngram_counts_sql(
            "documents", "doc_id", "text", n=3, min_count=4
        ),
        "text_lm_score": oracle_ext.lm_score_sql(
            "documents", "doc_id", "text", n=2, k=1.0
        ),
        "text_lm_score_backoff": oracle_ext.lm_score_sql(
            "(select * from documents where doc_id % 10 != 0)",
            "doc_id", "text", n=2, smoothing="stupid_backoff",
            score_table="(select * from documents where doc_id % 10 = 0)",
        ),
        "text_ppl_buckets": oracle_ext.perplexity_buckets_sql(
            "documents", "doc_id", "text"
        ),
        "gopher_rules": oracle_ext.gopher_rules_sql(
            "documents", "doc_id", "text"
        ),
        "dsir_weights": oracle_ext.dsir_weights_sql(
            "(select * from documents where doc_id % 10 = 0)",
            "(select * from documents where doc_id % 10 != 0)",
            "doc_id", "text",
        ),
        "contamination_report": oracle_ext.contamination_report_sql(
            "(select * from documents where doc_id % 50 = 0)",
            "(select * from documents where doc_id % 50 != 0)",
            "doc_id", "text", 0.9, 8, 1,
        ),
        "winnow_passages": oracle_ext.winnow_shared_passages_sql(
            "documents", "doc_id", "text"
        ),
        "embedding_stats": oracle_ext.embedding_stats_sql(
            "embeddings", "vec_id", "embedding"
        ),
        "edit_distance_link": """
select l.c_custkey as l_id, r.c_custkey as r_id,
       CAST(levenshtein(l.c_name, r.c_name) AS INTEGER) as dist
from (select * from customer where c_custkey % 2 = 0) l
join (select * from customer where c_custkey % 2 = 1) r
  on abs(length(l.c_name) - length(r.c_name)) <= 1
where levenshtein(l.c_name, r.c_name) <= 1
""",
        "jaccard_inner_ws_brute": ref_sql.inner_brute_sql(
            _DOCS_EVEN, _DOCS_ODD, "doc_id", "doc_id", "text", "text",
            _WS, T_INNER, "l_doc_id", "r_doc_id",
        ),
        "corpus_curate": oracle_ext.curate_corpus_sql(
            "documents", "doc_id", "text",
            min_quality=0.3, min_tokens=20,
            neardup_threshold=T_MINHASH,
        ),
        "jaccard_self_ws_bag_brute": ref_sql.self_brute_sql(
            "documents", "doc_id", "text",
            WhitespaceTokzr(return_set=False), T_SELF,
            "l_doc_id", "r_doc_id",
        ),
        "simhash_fingerprints": oracle_ext.simhash_fingerprints_sql(
            "documents", "doc_id", "text"
        ),
        "dedup_embed_cosine_lsh": oracle_ext.cosine_neardup_lsh_sql(
            "embeddings", "vec_id", "embedding", T_EMB_COS,
            n_planes=LSH_PLANES, dim=EMB_DIM,
        ),
        "ann_lsh_topk": oracle_ext.lsh_topk_sql(
            "embeddings", "vec_id", "embedding", ANN_QUERY_PRED, ANN_K,
            n_planes=LSH_PLANES, dim=EMB_DIM,
        ),
        "ann_pandas_topk": (
            "select query_id, neighbor_id, CAST(rank AS INTEGER) as rank "
            "from ("
            + oracle_ext.cosine_topk_sql(
                "embeddings", "vec_id", "embedding", ANN_QUERY_PRED, ANN_K
            )
            + ")"
        ),
        "text_normalize": oracle_ext.normalize_text_sql(
            _mess_text_sql(), "doc_id", "text"
        ),
        "dedup_lines_in_doc": oracle_ext.dedup_lines_in_doc_sql(
            _LINED_TEXT_SQL, "doc_id", "text"
        ),
        "chunk_documents": oracle_ext.chunk_documents_sql(
            "documents", "doc_id", "text", chunk_tokens=64, stride=48
        ),
        "domain_pagerank": oracle_ext.domain_pagerank_sql(
            _LINKED_TEXT_SQL, "doc_id", "text", iterations=10
        ),
        "domain_pagerank_zipf": oracle_ext.pagerank_sql(
            _ZIPF_EDGES_SQL, iterations=5
        ),
        "c4_rules": oracle_ext.c4_rules_sql(
            _C4_TEXT_SQL, "doc_id", "text"
        ),
        "split_sentences": oracle_ext.split_sentences_sql(
            _PUNCT_TEXT_SQL, "doc_id", "text"
        ),
        "build_vocab": oracle_ext.build_vocab_sql(
            "documents", "doc_id", "text", top_k=100
        ),
        "corpus_diff": oracle_ext.corpus_diff_sql(
            "documents", _DIFF_NEW_SQL, "doc_id", "text"
        ),
        "events_pivot": (
            "select user_id, "
            + ", ".join(
                f"CAST(sum(case when event_type = '{t}' then 1 else 0 "
                f"end) AS BIGINT) as n_{t}"
                for t in _EVENT_TYPES
            )
            + ", count(*) as n_total from events group by user_id"
        ),
        "orders_rollup": """
select n_name, CAST(month AS TIMESTAMP) as month,
       count(*) as n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         as revenue
from (
  select n_name, date_trunc('month', o_orderdate) as month,
         o_totalprice
  from orders
  join customer on o_custkey = c_custkey
  join nation on c_nationkey = n_nationkey)
group by rollup(n_name, month)
""",
        "events_resample": oracle_ext.resample_events_sql(
            "events", "ts", "event_type", value="value", step_hours=6
        ),
        "events_resample_7h": oracle_ext.resample_events_sql(
            "events", "ts", "event_type", value="value", step_hours=7
        ),
        "dedup_weighted": oracle_ext.weighted_jaccard_neardup_sql(
            "documents", "doc_id", "text", T_SELF
        ),
        "jaccard_knn": _jaccard_knn_sql(),
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for this round's driver window (:func:`queries`).
    Queries with no entry here get the driver's weaker rows-only
    check."""
    o = _all_oracle_sql()
    return {k: o[k] for k in _GATED if k in o}


def extra_oracle_sql() -> dict[str, str]:
    """DuckDB twins for :func:`extra_queries` — identical contract to
    :func:`oracle_sql`, consumed by ``tools/check_entry.py``."""
    o = _all_oracle_sql()
    gated = set(_GATED)
    return {k: v for k, v in o.items() if k not in gated}
