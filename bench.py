"""Benchmark harness — runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with ``.count()`` (full plan execution, no
driver-side row transfer).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "jaccard_self_ws",
    "jaccard_self_ws_brute",
    "jaccard_self_qgram",
    "jaccard_inner_ws",
    "jaccard_knn",
    "dedup_exact",
    "winnow_pairs",
    "phrase_search_many",
    "phrase_search",
    "dedup_minhash",
    # dedup_weighted is gate-graded but not benched here: on the
    # 31-word synthetic vocabulary EVERY threshold is density-
    # degenerate (t=0.95 still qualifies ~190k pairs at sf0.1 —
    # output-bound; the dedup_containment precedent). Its timing +
    # fan-out evidence lives in tools/weighted_bench.py (exit-gated
    # in round_checks.sh): on a realistic stopword-heavy Zipf corpus
    # the round-7 weighted-PPJoin prefix filter generates 0.04% of
    # the raw inverted-index candidates with results exactly equal.
    "dedup_simhash",
    "dedup_ngram",
    "decontaminate",
    "decontaminate_ngram",
    "decontaminate_bloom",
    "edit_distance_join",
    "edit_distance_link",
    "mix_corpora",
    "pack_stats",
    "stratified_sample",
    "deterministic_shuffle",
    "boilerplate_lines",
    "multimodal_audio",
    "url_domains",
    "pack_sequences",
    "dedup_embed_cosine",
    "dedup_embed_cosine_lsh",
    "dedup_embed_cosine_lsh_banded",
    "dedup_embed_lsh_match",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_lsh_banded_topk",
    "ann_ivf_topk",
    "embedding_stats",
    "text_token_counts",
    "text_stats",
    "text_lang_id",
    "text_redact_pii",
    "text_repetition",
    "text_rarity",
    "text_lang_id_trigram",
    "text_lm_score",
    "text_lm_score_backoff",
    "text_ppl_buckets",
    "dsir_weights",
    "gopher_rules",
    "dup_spans",
    "dup_span_stats",
    "dedup_canonical",
    "semantic_dedup",
    "pack_stats_bpe",
    "text_normalize",
    "dedup_lines_in_doc",
    "chunk_documents",
    "domain_pagerank",
    "domain_pagerank_zipf",
    "c4_rules",
    "split_sentences",
    "build_vocab",
    "corpus_diff",
    "ngram_counts",
    "heavy_ngrams_cms",
    "text_bm25_topk",
    "events_hourly",
    "events_pivot",
    "events_resample",
    "events_resample_7h",
    "orders_rollup",
    "events_sessionize",
    "events_running_totals",
    "events_asof_join",
    "lineitem_pricing",
    "orders_revenue_by_nation",
    "top_orders_per_customer",
]


def main() -> None:
    import __spark_entry__ as entry
    from jaccard_join_duckdb_spark import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Pre-touch the pinned heap so timed iterations never fault fresh
    # pages (see session.py round-11 note on VM memory storms).
    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    spark = get_spark(
        app_name="jjds-bench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.session.timeZone": "UTC",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Demoted gate variants (extra_queries) stay benched for timing
    # continuity across rounds.
    qs = {**entry.queries(), **getattr(entry, "extra_queries", dict)()}
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    timings: dict[str, float] = {}
    # Attribution guard (round 10, VERDICT r9 "What's missing" #3):
    # with single-shot walls, a genuine plan regression and ambient
    # session noise are indistinguishable in BENCH_rN.json. Recording
    # min-of-n makes the headline robust; the variance map flags any
    # query whose worst iteration exceeded 2x its best, so a reader
    # knows which numbers carried load noise.
    variance: dict[str, list[float]] = {}
    # Ordering-bias fix (round 11, VERDICT r10 #3): with query-major
    # iteration the FIRST query's timed runs all land in the coldest
    # part of the session — r10's jaccard_self_ws (position 1) benched
    # 1.9x above a plan-identical twin query on pure position.
    # Now the WHOLE list warms untimed first (every plan shape pays
    # its codegen JIT before any clock starts), then the timed pass is
    # iteration-major with a seeded per-iteration shuffle, so each
    # query's iters sample different positions and no name
    # systematically rides the coldest (or warmest) slot.
    import random

    names = list(BENCH_QUERIES)
    for name in names:
        spark.catalog.clearCache()
        qs[name](spark, sf_dir).count()
    best: dict[str, float] = {}
    worst: dict[str, float] = {}
    rows: dict[str, int] = {}
    for i in range(iters):
        order = names[:]
        random.Random(i).shuffle(order)
        for name in order:
            # Each query call persists its own intermediates; clear so
            # a repeat run (or a later query with an identical
            # canonicalized subplan) cannot serve from cache.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows[name] = qs[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best[name] = min(best.get(name, dt), dt)
            worst[name] = max(worst.get(name, dt), dt)
        print(f"# iteration {i + 1}/{iters} done", file=sys.stderr)
    for name in names:
        timings[name] = round(best[name], 3)
        if worst[name] > 2 * best[name]:
            variance[name] = [round(best[name], 3), round(worst[name], 3)]
        print(
            f"# {name}: {rows[name]} rows in {timings[name]:.2f}s"
            f" (min of {iters}, max {worst[name]:.2f}s)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "total_wall_headline_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "iters": iters,
        "agg": "min",
    }
    if variance:
        # VARIANCE note: [min, max] per flagged query — these mins are
        # still the best observed, but the session was loaded while
        # they ran; re-measure before treating a delta as a regression.
        out["variance"] = variance
    print(json.dumps(out))


if __name__ == "__main__":
    main()
