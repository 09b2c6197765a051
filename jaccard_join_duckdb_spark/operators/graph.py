"""Iterative graph analytics over corpus-derived graphs.

Beyond-reference operators (BASELINE.json north star): PageRank over
the domain graph a crawl corpus induces — the standard
crawl-frontier / source-quality prior (a domain linked from many
well-ranked domains is a better crawl or mixing candidate than raw
URL counts suggest). Complements ``operators.dedup.
connected_components`` (the other iterative fixpoint in the repo)
and ``functions.text.url_domain_stats`` (the flat per-domain counts).

Determinism contract — the part that makes an iterative float
algorithm hash-gateable against DuckDB: ranks are SCALED BIGINTs
(``rank ≈ rank_scaled / 10^12``) and every update is integer
arithmetic (integer division truncates identically in Spark and
DuckDB; integer addition is associative-commutative), so the result
is bit-identical regardless of partitioning, aggregation order, or
engine. The DuckDB twin (plans.oracle_ext.pagerank_sql) runs the
same recurrence as a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

__all__ = ["domain_cooccurrence_edges", "pagerank"]

RANK_SCALE = 10**12

# pagerank: broadcast the per-iteration rank/contrib tables into their
# joins when the (driver-known, constant) node count proves them
# bounded — ~16 B a row, the same budget class as
# dedup._CC_BROADCAST_MAX_LABELS. Checkpointed ranks are a leaf RDD
# whose size Catalyst cannot see, so without the hint both joins of
# every iteration default to sort-merge: 3 shuffles per iteration on
# a rank table of a few thousand rows. With the hint each iteration
# is ONE partial-aggregated shuffle (the contrib groupBy). Above the
# cap the sort-merge is the right BSP plan at corpus scale.
_PR_BROADCAST_MAX_NODES = 2_000_000

# pagerank: run the whole fixed-iteration recurrence vectorized on the
# driver when the raw edge list is bounded — 4M (u, v) rows ≈ 64 MB
# through Arrow, the same budget class as the per-iteration rank
# broadcast above (and dedup._CC_DRIVER_MAX_EDGES). The recurrence is
# pure int64 arithmetic on nonnegative values, where numpy's // and
# Spark's `div` agree exactly, so ranks are bit-identical; the display
# double is still computed BY SPARK (round half-up) on the literal
# frame. Above the cap the limit early-stops and the BSP loop remains
# the plan.
_PR_DRIVER_MAX_EDGES = 4_000_000

# Non-integral node ids (the domain graph's strings) cost ~an order of
# magnitude more driver memory per fetched edge than two longs (pandas
# object boxing ≈ 60-80 B per string + the bytes themselves), so they
# get a proportionally lower cap to stay inside the same ~64 MB budget
# (ADVICE r11: 4M string pairs could cost hundreds of MB on the
# driver). connected_components solves this by gating on integral
# types only; pagerank's PRIMARY caller is the string-keyed domain
# graph, so a reduced cap keeps the measured 5-14x driver win instead
# of forfeiting it.
_PR_DRIVER_MAX_EDGES_NONINT = 500_000


def _pagerank_driver(
    spark, pdf, id_type, d: int, iterations: int
) -> DataFrame:
    """Driver-vectorized twin of the distributed loop for bounded edge
    lists (already fetched as the pandas frame ``pdf``): same distinct
    edge set, same outdeg, same ``base + (d * contrib) div 100``
    integer recurrence, same iteration count — bit-identical
    ``rank_scaled`` (pinned by test_pagerank_driver_matches_
    distributed)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("node", id_type, False),
            T.StructField("rank_scaled", T.LongType(), False),
        ]
    )
    pdf = pdf.drop_duplicates()
    u = pdf["u"].to_numpy()
    v = pdf["v"].to_numpy()
    nodes = np.unique(np.concatenate([u, v]))
    n = len(nodes)
    if n == 0:
        out = spark.createDataFrame([], schema)
    else:
        ui = np.searchsorted(nodes, u)
        vi = np.searchsorted(nodes, v)
        outdeg = np.zeros(n, dtype=np.int64)
        np.add.at(outdeg, ui, 1)
        base = ((100 - d) * RANK_SCALE) // (100 * n)
        rank = np.full(n, RANK_SCALE // n, dtype=np.int64)
        for _ in range(int(iterations)):
            share = rank[ui] // outdeg[ui]
            contrib = np.zeros(n, dtype=np.int64)
            np.add.at(contrib, vi, share)
            rank = base + (d * contrib) // 100
        out = spark.createDataFrame(
            pd.DataFrame({"node": nodes, "rank_scaled": rank}), schema
        )
    return out.select(
        "node",
        "rank_scaled",
        F.round(
            F.col("rank_scaled").cast("double") / F.lit(float(RANK_SCALE)),
            12,
        ).alias("rank"),
    )


def domain_cooccurrence_edges(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Directed domain-graph edges from a text corpus: for each
    document, order the DISTINCT domains of its URLs by first
    occurrence and emit an edge from each domain to the next —
    "cites-next" adjacency, the cheap single-scan proxy for a link
    graph when only page text (not crawl link structure) is
    available. Self-loops dropped, edges deduplicated corpus-wide.
    Uses the same URL/authority regexes as ``url_domain_stats`` so
    the two can never disagree on what "the domain" is.

    Scale: explode ≈ URL count, one groupBy for first positions, one
    per-document window (partitioned by doc — no global ordering),
    one distinct. Output: ``(src, dst)``.
    """
    from ..functions.text import PII_PATTERNS, URL_DOMAIN_PATTERN

    url_pat = next(p for n, p, _ in PII_PATTERNS if n == "url")
    urls = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.regexp_extract_all(F.col(text_col), F.lit(url_pat), F.lit(0))
        ).alias("pos", "url"),
    )
    doms = urls.select(
        "id",
        "pos",
        F.lower(F.regexp_extract("url", URL_DOMAIN_PATTERN, 1)).alias(
            "domain"
        ),
    ).filter(F.col("domain") != "")
    first = doms.groupBy("id", "domain").agg(
        F.min("pos").alias("first_pos")
    )
    w = Window.partitionBy("id").orderBy("first_pos")
    nxt = first.select(
        F.col("domain").alias("src"),
        F.lead("domain").over(w).alias("dst"),
    )
    return (
        nxt.filter(F.col("dst").isNotNull())
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping_pct: int = 85,
    checkpoint_interval: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed simple graph, in
    exact scaled-integer arithmetic. The recurrence per iteration::

        contrib(v) = sum over edges (u, v) of  rank(u) div outdeg(u)
        rank'(v)   = base + (damping_pct * contrib(v)) div 100
        base       = ((100 - damping_pct) * SCALE) div (100 * N)

    with ``SCALE = 10^12`` and all-integer ops, initialized at
    ``rank = SCALE div N``. Dangling-node mass is dropped (ranks sum
    to < 1), the common simplification — relative order, the quantity
    pipelines consume, is unaffected. ``damping_pct`` is an integer
    percent so the damping multiply stays exact.

    Scale design: ``outdeg`` is joined into the edge list ONCE before
    the loop and both are persisted — each of the ``iterations``
    rounds is then exactly one shuffle (ranks ⋈ edges on the src key)
    plus a sum-combine groupBy with map-side partials, the same
    per-round shape as ``connected_components``. Ranks are
    ``localCheckpoint()``-ed every ``checkpoint_interval`` rounds so
    plan depth stays O(interval) instead of O(iterations), without
    paying an eager materialization job EVERY round (a fixed-cost
    tax that dominates on small graphs and is pure overhead on big
    ones). ``N`` is one driver-side scalar count before the
    loop (the reference's own scalar-action discipline, SURVEY.md
    §2.5 A4). Hub skew (every domain links to google.com) lands in
    the groupBy's partial aggregation, not in join fan-out.

    Output: ``(node, rank_scaled, rank)`` where ``rank`` is the
    display double ``round(rank_scaled / SCALE, 12)``.
    """
    if not 1 <= int(damping_pct) <= 99:
        raise ValueError("damping_pct must be an integer in [1, 99]")
    if int(iterations) < 1:
        raise ValueError("iterations must be >= 1")
    d = int(damping_pct)
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Driver fast path (round 11): one bounded pass over the raw edge
    # list both decides the gate and fetches it — the upstream edge
    # derivation (for the domain graph, the full corpus URL-regex
    # scan) executes exactly once, and the 10 per-iteration
    # broadcast-loop jobs collapse into numpy int64 rounds with the
    # identical recurrence. See _PR_DRIVER_MAX_EDGES; string-keyed
    # graphs get the reduced _PR_DRIVER_MAX_EDGES_NONINT cap.
    # Persist BEFORE the probe (round 12, VERDICT r11 #6): above the
    # cap the probe's partially-executed upstream subtree is then
    # reused by the BSP path instead of being discarded and
    # recomputed from scratch.
    from pyspark.sql import types as T

    int_ids = isinstance(
        e0.schema["u"].dataType, (T.LongType, T.IntegerType, T.ShortType)
    ) and isinstance(
        e0.schema["v"].dataType, (T.LongType, T.IntegerType, T.ShortType)
    )
    cap = _PR_DRIVER_MAX_EDGES if int_ids else _PR_DRIVER_MAX_EDGES_NONINT
    e0 = e0.persist(StorageLevel.MEMORY_AND_DISK)
    pdf = e0.limit(cap + 1).toPandas()
    if len(pdf) <= cap:
        out = _pagerank_driver(
            e0.sparkSession, pdf, e0.schema["u"].dataType, d, iterations
        )
        e0.unpersist()
        return out
    # Persist the canonical edge set: nodes (via nodes.count() below)
    # and ew each materialize from it in SEPARATE jobs, so an
    # unpersisted e re-runs the upstream edge derivation — for the
    # domain graph that is the full corpus URL-regex scan — once per
    # consumer (round 11: measured 2 full scans at sf0.1; persisting
    # e removes one).
    e = (
        e0
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    outdeg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    ew = e.join(outdeg, "u").persist(StorageLevel.MEMORY_AND_DISK)
    n = nodes.count()  # driver scalar: sizes base and the init rank
    # that count materialized e's cache, so e0's is dead weight
    e0.unpersist()
    if n == 0:
        # empty edge list => no nodes; return an empty frame with the
        # contract schema instead of a ZeroDivisionError from base//n
        nodes.unpersist()
        ew.unpersist()
        e.unpersist()
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_scaled"),
            F.lit(0.0).alias("rank"),
        )
    base = ((100 - d) * RANK_SCALE) // (100 * n)
    init = RANK_SCALE // n
    ranks = nodes.select(
        "node", F.lit(init).cast("long").alias("rank_scaled")
    ).localCheckpoint()
    ck = max(1, int(checkpoint_interval))
    checkpointed = [ranks]
    bcast = n <= _PR_BROADCAST_MAX_NODES
    for i in range(int(iterations)):
        r_in = F.broadcast(ranks) if bcast else ranks
        contrib = (
            r_in.join(ew, r_in["node"] == ew["u"])
            .select(
                F.col("v").alias("node"),
                F.expr("rank_scaled div outdeg").alias("share"),
            )
            .groupBy("node")
            .agg(F.sum("share").alias("contrib"))
        )
        c_in = F.broadcast(contrib) if bcast else contrib
        ranks = nodes.join(c_in, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(
                    f"({d} * coalesce(contrib, 0)) div 100"
                ).cast("long")
            ).alias("rank_scaled"),
        )
        if (i + 1) % ck == 0 and (i + 1) < int(iterations):
            ranks = ranks.localCheckpoint()
            for old in checkpointed:
                old.unpersist()
            checkpointed = [ranks]
    out = ranks.localCheckpoint()
    for old in checkpointed:
        old.unpersist()
    nodes.unpersist()
    ew.unpersist()
    e.unpersist()
    return out.select(
        "node",
        "rank_scaled",
        F.round(
            F.col("rank_scaled").cast("double") / F.lit(float(RANK_SCALE)), 12
        ).alias("rank"),
    )
