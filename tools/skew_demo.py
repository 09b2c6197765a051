"""Skew demonstration: Zipf-distributed token corpus through the
Jaccard joins' ``docs`` build join (tokens ⋈ the ranked doc-frequency
dim, :func:`_doc_freq` then :func:`_docs`) — the stage a crawl
corpus's hot words actually hit.

Findings this script demonstrates (see BENCHMARKS.md):

1. AQE's skew-join split does not engage on this join. The executed
   plan is checked to prove it (no isSkewJoin=true), and the JSON line
   reports the build join and how many ``Exchange
   hashpartitioning(token...)`` nodes feed it. Since the dim carries
   the ``tid`` rank (an unpartitioned window, or a sampled bucket
   window), both sides of the build join are shuffled by token, and
   AQE still leaves the hot partition whole.
2. The engine's mitigation is the heavy-hitter broadcast split, which
   :func:`_auto_hot_threshold` engages from measured df skew: hot
   tokens are few by definition, so their dim rows broadcast and the
   hot rows never enter the skewed exchange; only the cold tail
   shuffles. The demo forces it on (and off) by patching the
   ``_HOT_SPLIT_*`` constants that function reads.
3. The prefix-filtered self join is skew-resistant BY DESIGN: hot =
   high-df tokens sort last in the (df, token) prefix order, so they
   are structurally excluded from the indexing prefix.

Corpus: ``n_docs`` documents × 20 tokens; each token draw is the
constant hot token with p=$SKEW_DEMO_HOT_P (default 0.10), else
log-uniform rank in [1, vocab] (Zipf-ish tail). Fully deterministic
(xxhash64).

Usage: [SKEW_DEMO_HOT_P=0.3] python tools/skew_demo.py [n_docs] [vocab]
Prints one JSON line with timings; exit 0 iff the forced split engages,
the outputs of both paths are identical and the executed baseline plan
confirms no AQE split.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import jaccard_join_duckdb_spark.operators.jaccard as J  # noqa: E402

HOT_P = float(os.environ.get("SKEW_DEMO_HOT_P", "0.10"))
TOKENS_PER_DOC = 20


@contextlib.contextmanager
def hot_split(on: bool, min_thr: int = 2):
    """Patch the constants :func:`J._auto_hot_threshold` reads so a
    join or ``_doc_freq`` built inside the block takes the split (at a
    threshold of at least ``min_thr``, capped at the largest df) or
    does not, whatever the corpus."""
    names = ("_HOT_SPLIT_MIN_DF", "_HOT_SPLIT_SKEW_FACTOR",
             "_HOT_SPLIT_MIN_THR")
    saved = [getattr(J, n) for n in names]
    values = (0, 0, min_thr) if on else (sys.maxsize, *saved[1:])
    for n, v in zip(names, values):
        setattr(J, n, v)
    try:
        yield
    finally:
        for n, v in zip(names, saved):
            setattr(J, n, v)


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


def timed_build(docs):
    """Run a ``docs`` build whole and time it: ``size(arr)`` needs the
    tids, so the dim's rank window stays in the plan (a bare count
    would prune it, and the dim would feed the join unshuffled).
    Returns the seconds, the token total and the executed plan."""
    probe = docs.agg(F.sum(F.size("arr")).alias("n"))
    t0 = time.perf_counter()
    n = probe.collect()[0]["n"]
    sec = round(time.perf_counter() - t0, 3)
    return sec, n, probe._jdf.queryExecution().executedPlan().toString()


def build_join_shuffles(plan: str) -> int:
    """``Exchange hashpartitioning(token...)`` nodes under the final
    plan's join on token, not counting those in a cached relation's own
    plan."""
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    start = next(
        (i for i, line in enumerate(lines) if "Join [token#" in line), None
    )
    if start is None:
        return 0
    top = re.match(r"[\s:|]*[+:]- ", lines[start]).end()
    n, cache = 0, None
    for line in lines[start + 1:]:
        m = re.match(r"[\s:|]*[+:]- ", line)
        if not m:
            continue  # a wrapped expression, not a plan node
        if m.end() <= top:
            break
        if cache is not None and m.end() > cache:
            continue
        cache = m.end() if "TableCacheQueryStage" in line else None
        n += "Exchange hashpartitioning(token#" in line
    return n


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    vocab = int(sys.argv[2]) if len(sys.argv) > 2 else 3_000_000

    from jaccard_join_duckdb_spark import WhitespaceTokzr, get_spark

    spark = get_spark(
        app_name="skew-demo",
        extra_conf={
            "spark.ui.enabled": "false",
            # Aggressive local-scale AQE skew thresholds: even so, the
            # split does not engage on this join (see module
            # docstring) — asserted below on the executed plan.
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            # Force the dim side past broadcast so the build join is a
            # shuffle join (what a 100 TB vocabulary would be anyway).
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = make_corpus(spark, n_docs, vocab)
    tok = WhitespaceTokzr()
    tokens = tok.tokenize(docs, "doc_id", "text").persist()
    tokens.count()  # fill the cache once; all timed runs read it

    # Baseline: the joins' own docs build with the split off. Hot token
    # rows (~HOT_P of the corpus) land in ONE shuffle partition of the
    # build join; the executed plan shows whether AQE split it.
    with hot_split(False):
        freq = J._doc_freq(tok, tokens)
    base = J._docs(tokens, freq.dim, freq.n_words, freq.hot_thr,
                   with_pair_key=True)
    base_sec, n_base, base_plan = timed_build(base)
    aqe_split = "isSkewJoin=true" in base_plan
    build_join = re.search(r"(\w+Join) \[token#", base_plan)

    # Heavy-hitter broadcast split, forced on at a threshold of at
    # least 1% of the docs (_auto_hot_threshold may pick a higher one).
    with hot_split(True, max(2, n_docs // 100)):
        freq_hot = J._doc_freq(tok, tokens)
    mitigated = J._docs(tokens, freq_hot.dim, freq_hot.n_words,
                        freq_hot.hot_thr, with_pair_key=True)
    mit_sec, n_mit, _ = timed_build(mitigated)
    split_engaged = freq_hot.hot_thr is not None
    rows_equal = n_base == n_mit and (
        base.exceptAll(mitigated).limit(1).count() == 0
    )
    freq.cache.unpersist()
    freq_hot.cache.unpersist()

    # Prefix-filtered self join under the same skew: hot tokens are
    # excluded from prefixes by the (df, token) order — runs fine.
    small = make_corpus(spark, min(n_docs, 50_000), vocab)
    t0 = time.perf_counter()
    n_pairs = J.jaccard_self_join(small, "doc_id", "text", tok, 0.7).count()
    self_sec = round(time.perf_counter() - t0, 3)

    # Inner (two-table) path under the same skew: the heavy-hitter
    # split by each row's own side df, over the one side-tagged token
    # frame and the shared cross-table dim — same end-to-end join,
    # split off vs forced on, counts must be identical (output rows
    # are plan-independent).
    half = min(n_docs, 50_000)
    l_docs = make_corpus(spark, half, vocab)
    r_docs = make_corpus(spark, half, vocab).select(
        (F.col("doc_id") + half).alias("doc_id"), "text"
    )
    args = (l_docs, r_docs, "doc_id", "doc_id", "text", "text", tok, 0.7)
    t0 = time.perf_counter()
    with hot_split(False):
        inner_base = J.jaccard_inner_join(*args)
    n_inner_base = inner_base.count()
    inner_base_sec = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    with hot_split(True, max(2, half // 100)):
        inner_split = J.jaccard_inner_join(*args)
    n_inner_split = inner_split.count()
    inner_split_sec = round(time.perf_counter() - t0, 3)
    inner_split_engaged = "LeftAnti" in (
        inner_split._jdf.queryExecution().executedPlan().toString()
    )
    inner_rows_equal = n_inner_base == n_inner_split

    tokens.unpersist()
    print(json.dumps({
        "metric": "skew_demo",
        "docs_baseline_sec": base_sec,
        "docs_hot_broadcast_sec": mit_sec,
        "aqe_skew_split_engaged": aqe_split,
        "build_join": build_join.group(1) if build_join else None,
        "build_join_token_shuffles": build_join_shuffles(base_plan),
        "rows_equal": rows_equal,
        "docs_tokens": n_base,
        "self_join_sec": self_sec,
        "self_join_pairs": n_pairs,
        "inner_join_baseline_sec": inner_base_sec,
        "inner_join_hot_split_sec": inner_split_sec,
        "inner_join_split_engaged": inner_split_engaged,
        "inner_join_rows_equal": inner_rows_equal,
        "inner_join_pairs": n_inner_base,
        "n_docs": n_docs,
        "vocab": vocab,
        "hot_p": HOT_P,
        "hot_thr": freq_hot.hot_thr,
        "max_df": freq.max_df,
    }))
    ok = (split_engaged and inner_split_engaged and rows_equal
          and inner_rows_equal and not aqe_split)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
