"""Skew demonstration: Zipf-distributed token corpus through the
engine's tkdf build join (tokens ⋈ doc-freq) — the stage a crawl
corpus's hot words actually hit.

Findings this script demonstrates (see BENCHMARKS.md):

1. AQE's skew-join split CANNOT engage on this join structurally:
   the dfreq aggregate reuses the join's token-hash partitioning
   (no exchange between them), and Spark's OptimizeSkewedJoin only
   matches sort-merge joins whose children are bare shuffle stages.
   The executed plan is checked to prove it (no isSkewJoin=true).
2. The engine's mitigation is the heavy-hitter broadcast split
   (``tokens_with_doc_freq(hot_df_threshold=...)``): hot tokens are
   few by definition, so their dfreq rows broadcast and the hot rows
   never enter the skewed exchange; only the cold tail shuffles.
3. The prefix-filtered self join is skew-resistant BY DESIGN: hot =
   high-df tokens sort last in the (df, token) prefix order, so they
   are structurally excluded from the indexing prefix.

Corpus: ``n_docs`` documents × 20 tokens; each token draw is the
constant hot token with p=$SKEW_DEMO_HOT_P (default 0.10), else
log-uniform rank in [1, vocab] (Zipf-ish tail). Fully deterministic
(xxhash64).

Usage: [SKEW_DEMO_HOT_P=0.3] python tools/skew_demo.py [n_docs] [vocab]
Prints one JSON line with timings; exit 0 iff outputs of both paths
are identical and the executed baseline plan confirms no AQE split.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

HOT_P = float(os.environ.get("SKEW_DEMO_HOT_P", "0.10"))
TOKENS_PER_DOC = 20


def make_corpus(spark, n_docs: int, vocab: int):
    """(doc_id, text): space-joined tokens, 10% hot + log-uniform."""
    def u(j):
        return (
            (F.xxhash64(F.col("id"), F.lit(j)) % 1_000_000 + 1_000_000)
            % 1_000_000 / 1_000_000.0
        )

    def pick(j):
        return F.when(u(j) < HOT_P, F.lit("tokHOT")).otherwise(
            F.concat(
                F.lit("tok"),
                F.floor(F.pow(F.lit(float(vocab)), u(j))).cast("string"),
            )
        )

    toks = F.array_join(
        F.transform(F.sequence(F.lit(1), F.lit(TOKENS_PER_DOC)), pick), " "
    )
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"), toks.alias("text")
    )


def timed_rows(df) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = df.count()
    return round(time.perf_counter() - t0, 3), n


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    vocab = int(sys.argv[2]) if len(sys.argv) > 2 else 3_000_000

    from jaccard_join_duckdb_spark import WhitespaceTokzr, get_spark
    from jaccard_join_duckdb_spark.operators.jaccard import (
        jaccard_inner_join,
        jaccard_self_join,
        tokens_with_doc_freq,
    )

    spark = get_spark(
        app_name="skew-demo",
        extra_conf={
            "spark.ui.enabled": "false",
            # Aggressive local-scale AQE skew thresholds: even so, the
            # split cannot engage on this join (structural, see module
            # docstring) — asserted below on the executed plan.
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            # Force the dfreq side past broadcast so the build join is a
            # shuffle join (what a 100 TB vocabulary would be anyway).
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = make_corpus(spark, n_docs, vocab)
    tok = WhitespaceTokzr()
    tokens = tok.tokenize(docs, "doc_id", "text").persist()
    tokens.count()  # materialize once; all timed runs read the cache

    # Baseline: hot token rows (~HOT_P of the corpus) land in ONE
    # shuffle partition of the join. Executed-plan check proves AQE
    # did not split it.
    base = tokens_with_doc_freq(tokens)
    base_probe = base.groupBy().count()
    t0 = time.perf_counter()
    n_base = base_probe.collect()[0][0]
    base_sec = round(time.perf_counter() - t0, 3)
    base_plan = base_probe._jdf.queryExecution().executedPlan().toString()
    aqe_split = "isSkewJoin=true" in base_plan

    # Heavy-hitter broadcast split: df >= 1% of docs counts as hot.
    hot_thr = max(2, n_docs // 100)
    mitigated = tokens_with_doc_freq(tokens, hot_df_threshold=hot_thr)
    mit_sec, n_mit = timed_rows(mitigated)

    rows_equal = n_base == n_mit and (
        base.exceptAll(mitigated).limit(1).count() == 0
    )

    # Prefix-filtered self join under the same skew: hot tokens are
    # excluded from prefixes by the (df, token) order — runs fine.
    small = make_corpus(spark, min(n_docs, 50_000), vocab)
    t0 = time.perf_counter()
    n_pairs = jaccard_self_join(small, "doc_id", "text", tok, 0.7).count()
    self_sec = round(time.perf_counter() - t0, 3)

    # Inner (two-table) path under the same skew (round 10, VERDICT r9
    # #3): the heavy-hitter split by each row's own side df, over the
    # one side-tagged token frame and the shared cross-table dfreq
    # — same end-to-end join, split off vs explicit threshold, counts
    # must be identical (output rows are plan-independent).
    half = min(n_docs, 50_000)
    l_docs = make_corpus(spark, half, vocab)
    r_docs = make_corpus(spark, half, vocab).select(
        (F.col("doc_id") + half).alias("doc_id"), "text"
    )
    t0 = time.perf_counter()
    n_inner_base = jaccard_inner_join(
        l_docs, r_docs, "doc_id", "doc_id", "text", "text", tok, 0.7,
        hot_df_threshold=None,
    ).count()
    inner_base_sec = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    n_inner_split = jaccard_inner_join(
        l_docs, r_docs, "doc_id", "doc_id", "text", "text", tok, 0.7,
        hot_df_threshold=max(2, half // 100),
    ).count()
    inner_split_sec = round(time.perf_counter() - t0, 3)
    inner_rows_equal = n_inner_base == n_inner_split

    tokens.unpersist()
    print(json.dumps({
        "metric": "skew_demo",
        "tkdf_baseline_sec": base_sec,
        "tkdf_hot_broadcast_sec": mit_sec,
        "aqe_skew_split_engaged": aqe_split,
        "rows_equal": rows_equal,
        "tkdf_rows": n_base,
        "self_join_sec": self_sec,
        "self_join_pairs": n_pairs,
        "inner_join_baseline_sec": inner_base_sec,
        "inner_join_hot_split_sec": inner_split_sec,
        "inner_join_rows_equal": inner_rows_equal,
        "inner_join_pairs": n_inner_base,
        "n_docs": n_docs,
        "vocab": vocab,
        "hot_p": HOT_P,
        "hot_df_threshold": hot_thr,
    }))
    return 0 if (rows_equal and inner_rows_equal and not aqe_split) else 1


if __name__ == "__main__":
    sys.exit(main())
