"""Bloom-prefilter decontamination evidence — the regime the operator
exists for: a benchmark side too big to broadcast as a raw shingle
set.

Workload (deterministic, generated in-plan — no files, no RNG):
~20K benchmark items x 30 tokens over a 50K-word vocabulary (~580K
distinct 8-gram shingles; ~4.7 MB of raw 8-byte keys, past the 1 MB
broadcast threshold this bench forces) against a 200K-doc corpus
(~6.6M corpus shingles). Every 100th corpus doc embeds a verbatim
benchmark item, so true hits exist at a realistic ~1% rate and the
mismatch-dominated bulk is what the prefilter must eliminate.

Exit-code-gated invariants:

1. EQUALITY — bloom_ngram_decontaminate == ngram_decontaminate on the
   full (q_id, c_id, n_hits, q_ngrams, hit_frac) row set (the no-
   false-negatives guarantee, end to end).
2. MAP-SIDE PREFILTER PLAN — the bloom candidate sub-plan carries NO
   shuffle Exchange (its only exchanges are the bounded word-table
   broadcasts): corpus shingles are filtered where they are scanned.
   The PLAIN operator's hit join under the same forced 1 MB
   broadcast threshold DOES shuffle the corpus shingles
   ("Exchange hashpartitioning" present) — the degradation the bloom
   path avoids.
3. SELECTIVITY — bloom survivors are < 5% of corpus shingles (the
   shuffle reduction factor; measured ~1%, the true-hit rate plus an
   FPR trickle) and >= the true shared-shingle count (nothing real
   was dropped).
4. COMPRESSION — the sparse word table (12 bytes per non-zero word)
   is smaller than the raw distinct-key set it replaces (8 bytes x
   n_distinct).

Walls are REPORTED but not gated: on a single node the forced
sort-merge keeps 6.6M shingle rows memory-resident, so plain and
bloom walls are comparable (~7 vs ~9 s) — the prefilter's win is the
~136× SHUFFLE-VOLUME reduction (6.58M corpus shingles → ~48K
survivors cross the wire), which is what dominates on a real cluster
where the shuffle is network-bound. That reduction and the map-side
plan shape are the gated claims.

Usage: python tools/bloom_bench.py [n_bench] [n_corpus]
Prints one JSON line; exit 0 iff all four gates hold. Results are
recorded in BENCHMARKS.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

VOCAB = 50_000
BENCH_TOKENS = 30
CORPUS_TOKENS = 40
N = 8  # shingle width


def _synth_text(id_col, n_tokens: int, salt: int):
    """Deterministic pseudo-random token sequence: token i of doc d is
    ``w<xxhash64(d, i, salt) mod VOCAB>`` — fully in-plan, no RNG."""
    return F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_tokens - 1)),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(
                    F.xxhash64(id_col, i, F.lit(salt)), F.lit(VOCAB)
                ).cast("string"),
            ),
        ),
        " ",
    )


def main() -> int:
    n_bench = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    n_corpus = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000

    from jaccard_join_duckdb_spark import get_spark
    from jaccard_join_duckdb_spark.operators.dedup import (
        _shingle_hashes,
        bloom_words,
        bloom_prefilter,
        _bloom_size_bits,
        bloom_ngram_decontaminate,
        ngram_decontaminate,
    )

    spark = get_spark(
        app_name="bloom-bench",
        extra_conf={
            "spark.ui.enabled": "false",
            # Force the regime the operator exists for: the raw
            # benchmark shingle set does NOT fit the broadcast budget
            # (Catalyst size ESTIMATES undershoot, so a byte
            # threshold alone doesn't bite — disable auto-broadcast
            # outright), so the plain operator's equi-join must
            # shuffle the corpus side. The bloom word table still
            # broadcasts via its explicit hint.
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    bench = spark.range(n_bench).select(
        F.col("id").alias("doc_id"),
        _synth_text(F.col("id"), BENCH_TOKENS, 1).alias("text"),
    )
    # Every 100th corpus doc is a verbatim copy of benchmark item
    # (doc_id/100 mod n_bench); the rest are independent text.
    corpus = spark.range(n_corpus).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 100 == 0,
            _synth_text(
                F.pmod(F.col("id") / F.lit(100), F.lit(n_bench)).cast(
                    "bigint"
                ),
                BENCH_TOKENS,
                1,
            ),
        )
        .otherwise(_synth_text(F.col("id"), CORPUS_TOKENS, 2))
        .alias("text"),
    )

    # --- gate 4: word table vs raw key-set size ----------------------------
    q = _shingle_hashes(bench, "doc_id", "text", N, "q_id")
    n_distinct = q.select("g").distinct().count()
    m_bits = _bloom_size_bits(q.count(), 16)
    ws = bloom_words(q, "g", m_bits, 7)
    bitset_bytes = 12 * ws.count()  # (int, bigint) per non-zero word
    raw_bytes = 8 * n_distinct
    compression_ok = bitset_bytes < raw_bytes

    # --- gate 3: map-side selectivity --------------------------------------
    c = _shingle_hashes(corpus, "doc_id", "text", N, "c_id")
    n_corpus_shingles = c.count()
    cand = bloom_prefilter(c, "g", ws, m_bits, 7)
    t0 = time.time()
    n_survivors = cand.count()
    probe_wall = round(time.time() - t0, 2)
    n_true = c.join(q.select("g").distinct(), "g").count()
    selectivity = n_survivors / max(1, n_corpus_shingles)
    selectivity_ok = selectivity < 0.05 and n_survivors >= n_true

    # --- gate 2: plan shapes ------------------------------------------------
    cand_plan = cand._jdf.queryExecution().executedPlan().toString()
    bloom_shuffle_free = "Exchange hashpartitioning" not in cand_plan
    plain_hits = _shingle_hashes(
        corpus, "doc_id", "text", N, "c_id"
    ).join(q, "g")
    plain_plan = plain_hits._jdf.queryExecution().executedPlan().toString()
    plain_shuffles = "Exchange hashpartitioning" in plain_plan

    # --- gate 1: end-to-end equality (+ walls; plain FIRST so JIT
    # warm-up cannot flatter the bloom number) ------------------------------
    t0 = time.time()
    want = {
        tuple(r)
        for r in ngram_decontaminate(
            bench, corpus, "doc_id", "text", n=N
        ).collect()
    }
    plain_wall = round(time.time() - t0, 2)
    t0 = time.time()
    got = {
        tuple(r)
        for r in bloom_ngram_decontaminate(
            bench, corpus, "doc_id", "text", n=N, m_bits=m_bits
        ).collect()
    }
    bloom_wall = round(time.time() - t0, 2)
    equal = got == want and len(want) > 0

    out = {
        "metric": "bloom_decontaminate_bench",
        "n_bench": n_bench,
        "n_corpus": n_corpus,
        "n_distinct_bench_shingles": n_distinct,
        "m_bits": m_bits,
        "bitset_bytes": bitset_bytes,
        "raw_key_bytes": raw_bytes,
        "n_corpus_shingles": n_corpus_shingles,
        "n_bloom_survivors": n_survivors,
        "n_true_shared_shingles": n_true,
        "selectivity": round(selectivity, 5),
        "probe_wall_s": probe_wall,
        "rows": len(want),
        "bloom_wall_s": bloom_wall,
        "plain_wall_s": plain_wall,
        "results_equal": equal,
        "bloom_candidates_shuffle_free": bloom_shuffle_free,
        "plain_join_shuffles_corpus": plain_shuffles,
        "compression_ok": compression_ok,
        "selectivity_ok": selectivity_ok,
    }
    print(json.dumps(out))
    ok = (
        equal
        and bloom_shuffle_free
        and plain_shuffles
        and compression_ok
        and selectivity_ok
    )
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
