"""Count-Min-Sketch heavy-hitter shuffle-volume evidence — exit-gated
(round 10, VERDICT r9 stretch #7; the CMS twin of bloom_bench).

The claim operators/sketch.py makes for 100 TB: a plain
``groupBy(key).count()`` over a heavy-tailed key space shuffles one
row per distinct key per input partition — the tail of
near-singletons dominates that shuffle while contributing NOTHING to
a ``count >= T`` answer — whereas the CMS prefilter drops tail
occurrences map-side (provably no false negatives: the sketch never
undercounts), so only the head plus an overcount trickle reaches the
exact aggregation. This tool MEASURES that, instead of arguing it:

1. RESULTS EQUAL — ``heavy_hitters`` == the plain
   ``groupBy().count().filter(>= T)`` on a Zipf-ish corpus (exact
   keys AND exact counts, full multiset compare).
2. SHUFFLE ROWS — the exact post-map-side-combine shuffle row count
   of each path, computed as ``groupBy(spark_partition_id(), key)``
   distinct-group counts (what a partial aggregation actually emits
   into the exchange): the plain path's rows vs the sketch path's
   (candidate occurrences' groups + the sketch build's own bounded
   ``(partition, row, idx)`` groups). Gate: sketch path <= 20% of
   the plain path. On the measured corpus the reduction is driven by
   the tail: distinct keys ~ corpus-sized, head keys a few hundred.
3. MAP-SIDE PROBE — the candidate (prefilter) plan contains NO
   ``Exchange hashpartitioning``: probing is ``depth`` broadcast
   hash joins; the only shuffles in the whole sketch path are the
   bounded build and the bounded exact aggregation of survivors.

Corpus: ``N_OCC`` occurrence rows over ``N_PARTS`` input partitions;
15% of occurrences draw a head key (log-uniform rank over 1000 keys —
Zipf-ish), 85% are singleton keys (``u<id>``) — the heavy-tailed
shape of n-gram / domain / token frequency tables, where the distinct
count is corpus-sized. Deterministic (xxhash64), in-plan.

REGIME NOTE (what this gate measures, honestly): the sketch build's
own shuffle is bounded at ``depth x width`` rows PER INPUT PARTITION,
so the reduction only materializes when a partition's occurrence
count (and with a unique-heavy tail, its distinct-key count) well
exceeds the sketch size — exactly the 100 TB regime, where every
128 MB input split holds millions of occurrences against a 131K-
counter sketch. The default workload reproduces that regime locally
(1M occurrences per partition vs depth 4 x width 32768); at toy
per-partition sizes the plain groupBy's map-side combine already
bounds the shuffle below the sketch build and the sketch is honestly
the wrong tool (measured here before the workload was sized to the
regime: fraction 3.36 at 62.5K rows/partition).

Usage: python tools/cms_bench.py [n_occ] [threshold]
Prints one JSON line; exit 0 iff all gates hold. Results recorded in
BENCHMARKS.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

HEAD_VOCAB = 1_000
HEAD_P = 0.15
WIDTH = 1 << 15
DEPTH = 4
N_PARTS = 8
REDUCTION_CAP = 0.20


def main() -> int:
    n_occ = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    threshold = int(sys.argv[2]) if len(sys.argv) > 2 else 500

    from jaccard_join_duckdb_spark import get_spark
    from jaccard_join_duckdb_spark.operators.sketch import (
        cms_min_filter,
        cms_table,
        heavy_hitters,
    )

    spark = get_spark(
        app_name="cms-bench", extra_conf={"spark.ui.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    u = (
        (F.xxhash64("id", F.lit(3)) % F.lit(1_000_000) + F.lit(1_000_000))
        % F.lit(1_000_000)
        / F.lit(1_000_000.0)
    )
    u2 = (
        (F.xxhash64("id", F.lit(7)) % F.lit(1_000_000) + F.lit(1_000_000))
        % F.lit(1_000_000)
        / F.lit(1_000_000.0)
    )
    head = F.concat(
        F.lit("k"),
        F.floor(F.pow(F.lit(float(HEAD_VOCAB)), u2)).cast("string"),
    )
    occ = spark.range(0, n_occ, 1, N_PARTS).select(
        F.when(u < F.lit(HEAD_P), head)
        .otherwise(F.concat(F.lit("u"), F.col("id").cast("string")))
        .alias("key")
    ).persist()
    occ.count()

    def groups(df, *cols) -> int:
        """Exact row count a map-side-partial aggregation emits into
        its exchange: one row per (input partition, group key)."""
        return (
            df.groupBy(F.spark_partition_id().alias("__p"), *cols)
            .agg(F.count(F.lit(1)))
            .count()
        )

    # plain path: every distinct key per partition enters the shuffle
    t0 = time.perf_counter()
    plain = {
        (r["key"], r["n_count"])
        for r in occ.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_count"))
        .filter(F.col("n_count") >= threshold)
        .collect()
    }
    plain_wall = round(time.perf_counter() - t0, 3)
    plain_shuffle_rows = groups(occ, "key")

    # sketch path: bounded build + map-side prefilter + exact agg
    t0 = time.perf_counter()
    sketch = {
        (r["key"], r["n_count"])
        for r in heavy_hitters(occ, "key", threshold, WIDTH, DEPTH).collect()
    }
    sketch_wall = round(time.perf_counter() - t0, 3)

    cms = cms_table(occ, "key", WIDTH, DEPTH)
    cand = cms_min_filter(occ, "key", cms, threshold, WIDTH, DEPTH)
    cand_occurrences = cand.count()
    build_shuffle_rows = groups(
        occ.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(DEPTH - 1)),
                    lambda r: F.struct(
                        r.cast("int").alias("row"),
                        F.pmod(
                            F.xxhash64(F.col("key"), r, F.lit(0x5851F42D)),
                            F.lit(WIDTH),
                        ).cast("int").alias("idx"),
                    ),
                )
            ).alias("c")
        ).select("c.row", "c.idx"),
        "row",
        "idx",
    )
    exact_shuffle_rows = groups(cand, "key")
    sketch_total = build_shuffle_rows + exact_shuffle_rows
    reduction = sketch_total / max(plain_shuffle_rows, 1)

    cand_plan = cand._jdf.queryExecution().executedPlan().toString()
    probe_shuffle_free = "Exchange hashpartitioning" not in cand_plan

    n_distinct = occ.select("key").distinct().count()
    occ.unpersist()

    fails: list[str] = []
    if sketch != plain:
        fails.append(
            f"results differ: sketch {len(sketch)} vs plain {len(plain)}"
        )
    if not plain:
        fails.append("zero heavy hitters — workload degenerate")
    if reduction > REDUCTION_CAP:
        fails.append(
            f"shuffle reduction {reduction:.3f} > {REDUCTION_CAP} cap"
        )
    if not probe_shuffle_free:
        fails.append("prefilter plan contains a hash Exchange")

    print(json.dumps({
        "metric": "cms_bench",
        "n_occurrences": n_occ,
        "n_distinct_keys": n_distinct,
        "threshold": threshold,
        "heavy_hitters": len(plain),
        "plain_shuffle_rows": plain_shuffle_rows,
        "cms_build_shuffle_rows": build_shuffle_rows,
        "cms_exact_shuffle_rows": exact_shuffle_rows,
        "cms_total_shuffle_rows": sketch_total,
        "shuffle_row_fraction": round(reduction, 4),
        "candidate_occurrences": cand_occurrences,
        "probe_shuffle_free": probe_shuffle_free,
        "plain_wall_s": plain_wall,
        "sketch_wall_s": sketch_wall,
        "results_equal": sketch == plain,
        "pass": not fails,
        **({"fails": fails} if fails else {}),
    }))
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())
