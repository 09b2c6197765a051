"""PageRank scale evidence — exit-gated.

Three checks on ``operators.graph.pagerank`` over a deterministic
synthetic digraph (pure functions of the node id — reproducible
everywhere, no randomness):

1. **Exactness**: at N=2,000 the distributed scaled-integer result is
   BIT-identical to the DuckDB recursive-CTE twin
   (``plans.oracle_ext.pagerank_sql``) — the same property the
   ``domain_pagerank`` gate row checks, re-proven on a denser graph
   with hubs and cycles.
2. **Plan shape**: the per-iteration plan contains NO SinglePartition
   exchange at all — each round is a key-partitioned shuffle join +
   map-side-partial groupBy; nothing funnels through one task.
3. **Scaling**: 5 iterations at N=100k vs N=1M nodes (~3 edges/node,
   16-hub skew): 10x nodes must grow wall-clock by <= 6x (linear work
   per iteration; generous bound for the fixed floor), AND the big
   run's hub skew must not fail (the groupBy partial-agg absorbs the
   16-hub in-degree concentration).

Prints ONE JSON line; exit 0 iff all three gates hold.

Usage: python tools/graph_bench.py [small_n] [big_n]
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ITERS = 5


def synthetic_edges(spark, n: int):
    """~3 deterministic out-edges per node: two multiplicative hops
    (cycle mixing) plus a 16-hub link (in-degree skew ~ n/16)."""
    from pyspark.sql import functions as F

    base = spark.range(n).select(F.col("id").alias("src"))
    e = (
        base.select("src", ((F.col("src") * 7 + 1) % n).alias("dst"))
        .union(base.select("src", ((F.col("src") * 13 + 5) % n).alias("dst")))
        .union(base.select("src", (F.col("src") % 16).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return e


def edges_sql(n: int) -> str:
    return f"""
select src, dst from (
  select i as src, (i * 7 + 1) % {n} as dst from range({n}) t(i)
  union
  select i, (i * 13 + 5) % {n} from range({n}) t(i)
  union
  select i, i % 16 from range({n}) t(i))
where src != dst
"""


def main() -> int:
    from jaccard_join_duckdb_spark import get_spark
    from jaccard_join_duckdb_spark.operators.graph import pagerank
    from jaccard_join_duckdb_spark.plans.oracle_ext import pagerank_sql
    from jaccard_join_duckdb_spark.session import duckdb_connect

    small_n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    big_n = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark(
        app_name="graph-bench", extra_conf={"spark.ui.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    # -- gate 1: bit-exactness vs the recursive-CTE twin -----------------
    n0 = 2_000
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(
            synthetic_edges(spark, n0), iterations=ITERS
        ).collect()
    }
    con = duckdb_connect()  # keep a reference: a temporary is GC'd
    want = {
        node: rank
        for node, rank, _ in con.sql(
            pagerank_sql(edges_sql(n0), iterations=ITERS)
        ).fetchall()
    }
    con.close()
    exact = got == want

    # -- gate 2: no SinglePartition exchange anywhere in the plan --------
    buf = io.StringIO()
    with redirect_stdout(buf):
        pagerank(
            synthetic_edges(spark, n0), iterations=1
        ).explain("formatted")
    single_free = not re.search(
        r"Arguments: SinglePartition", buf.getvalue()
    )

    # -- gate 3: 10x nodes -> <= 6x wall over 5 iterations ---------------
    def timed(n: int) -> float:
        t0 = time.perf_counter()
        pagerank(synthetic_edges(spark, n), iterations=ITERS).count()
        return time.perf_counter() - t0

    timed(small_n)  # warm-up (codegen JIT)
    t_small = timed(small_n)
    t_big = timed(big_n)
    growth = t_big / max(t_small, 1e-9)
    scaling_ok = growth <= 6.0

    ok = exact and single_free and scaling_ok
    print(json.dumps({
        "metric": "pagerank_scale_evidence",
        "exact_vs_recursive_cte_n2000": exact,
        "single_partition_free": single_free,
        "iterations": ITERS,
        "small_n": small_n,
        "big_n": big_n,
        "t_small_s": round(t_small, 3),
        "t_big_s": round(t_big, 3),
        "growth_10x_nodes": round(growth, 2),
        "growth_bound": 6.0,
        "ok": ok,
    }))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
