"""Graph analytics (operators/graph.py): the scaled-integer PageRank
recurrence against an independent pure-Python reference, DuckDB
recursive-CTE parity, edge-derivation semantics, and the
checkpoint-interval invariance. The sf0.01 hash gate runs the
composed pipeline corpus-wide (domain_pagerank in __spark_entry__)."""

import pandas as pd
import pytest

from jaccard_join_duckdb_spark.operators.graph import (
    RANK_SCALE,
    domain_cooccurrence_edges,
    pagerank,
)
from jaccard_join_duckdb_spark.plans import oracle_ext as oe
from jaccard_join_duckdb_spark.session import duckdb_connect

EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("d", "c"), ("e", "c"), ("c", "d"),
]


def _pagerank_py(edges, iterations=10, d=85, scale=RANK_SCALE):
    """Independent reference: the same recurrence in plain Python."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    out = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 1
    base = ((100 - d) * scale) // (100 * n)
    rank = {v: scale // n for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0 for v in nodes}
        for u, v in edges:
            contrib[v] += rank[u] // out[u]
        rank = {v: base + (d * contrib[v]) // 100 for v in nodes}
    return rank


def test_pagerank_matches_python_reference(spark):
    sdf = spark.createDataFrame(EDGES, ["src", "dst"])
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(sdf, iterations=10).collect()
    }
    assert got == _pagerank_py(EDGES, iterations=10)


def test_pagerank_driver_matches_distributed(spark, monkeypatch):
    """The size-gated driver-vectorized fast path (round 11) must be
    bit-identical to the distributed loop — rank_scaled AND the
    rounded display double — including under duplicate input edges
    (both paths dedup before outdeg)."""
    import jaccard_join_duckdb_spark.operators.graph as G

    sdf = spark.createDataFrame(EDGES + EDGES[:3], ["src", "dst"])
    fast = {
        r["node"]: (r["rank_scaled"], r["rank"])
        for r in pagerank(sdf, iterations=7).collect()
    }
    monkeypatch.setattr(G, "_PR_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(G, "_PR_DRIVER_MAX_EDGES_NONINT", 0)
    slow = {
        r["node"]: (r["rank_scaled"], r["rank"])
        for r in pagerank(sdf, iterations=7).collect()
    }
    assert fast == slow


def test_pagerank_above_cap_single_edge_materialization(spark, monkeypatch):
    """Above the driver-path cap, the size probe must not throw away
    its partial execution of the upstream edge subtree (round 12,
    VERDICT r11 #6): e0 is persisted before the probe, so across the
    probe + the whole BSP run every input edge row is computed exactly
    once. The accumulator counts rows flowing out of the (opaque to
    the cache) upstream stage."""
    import jaccard_join_duckdb_spark.operators.graph as G

    acc = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for b in batches:
            acc.add(len(b))
            yield b

    n = 40
    base = spark.createDataFrame(
        [(i, (i * 3) % 10) for i in range(n)], "src long, dst long"
    ).mapInPandas(count_rows, "src long, dst long")
    monkeypatch.setattr(G, "_PR_DRIVER_MAX_EDGES", 3)
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(base, iterations=3).collect()
    }
    assert got == _pagerank_py(
        sorted({(i, (i * 3) % 10) for i in range(n)}), iterations=3
    )
    assert acc.value == n


def test_pagerank_hub_ranks_highest(spark):
    star = [(f"leaf{i}", "hub") for i in range(6)]
    sdf = spark.createDataFrame(star, ["src", "dst"])
    rows = pagerank(sdf, iterations=5).collect()
    best = max(rows, key=lambda r: r["rank_scaled"])
    assert best["node"] == "hub"


def test_pagerank_checkpoint_interval_invariant(spark):
    """The interval is a lineage/materialization knob — results must
    be bit-identical at every setting."""
    sdf = spark.createDataFrame(EDGES, ["src", "dst"])
    ref = None
    for ck in (1, 3, 100):
        got = sorted(
            (r["node"], r["rank_scaled"])
            for r in pagerank(
                sdf, iterations=7, checkpoint_interval=ck
            ).collect()
        )
        ref = got if ref is None else ref
        assert got == ref, f"checkpoint_interval={ck}"


def test_pagerank_duckdb_parity(spark):
    sdf = spark.createDataFrame(EDGES, ["src", "dst"])
    con = duckdb_connect()
    con.register("edges_tbl", pd.DataFrame(EDGES, columns=["src", "dst"]))
    a = (
        pagerank(sdf, iterations=10)
        .toPandas()
        .sort_values("node")
        .reset_index(drop=True)
    )
    b = (
        con.sql(oe.pagerank_sql("select * from edges_tbl", iterations=10))
        .df()
        .sort_values("node")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        a[sorted(a.columns)], b[sorted(b.columns)], check_dtype=False
    )


def test_pagerank_validation(spark):
    sdf = spark.createDataFrame(EDGES, ["src", "dst"])
    with pytest.raises(ValueError):
        pagerank(sdf, damping_pct=0)
    with pytest.raises(ValueError):
        pagerank(sdf, damping_pct=100)
    with pytest.raises(ValueError):
        pagerank(sdf, iterations=0)


def test_pagerank_empty_edges(spark):
    """Empty edge list => empty result with the contract schema, not
    a ZeroDivisionError from RANK_SCALE // 0 (round-7 advisor fix)."""
    empty = spark.createDataFrame([], "src string, dst string")
    out = pagerank(empty)
    assert out.columns == ["node", "rank_scaled", "rank"]
    assert out.count() == 0


DOCS = [
    # site1 twice (dedup to first), three domains in order
    (1, "x https://Site1.example/a y http://hub.example/b "
        "https://m.example/c https://site1.example/d"),
    (2, "https://alpha.example/a https://beta.example/b"),
    (3, "no urls at all"),
    (4, "https://solo.example/only-one-domain"),
    (5, "https://loop.example/a https://loop.example/b"),  # self-loop only
]


def test_domain_edges_semantics(spark):
    sdf = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {
        (r["src"], r["dst"])
        for r in domain_cooccurrence_edges(sdf, "doc_id", "text").collect()
    }
    assert got == {
        ("site1.example", "hub.example"),
        ("hub.example", "m.example"),
        ("alpha.example", "beta.example"),
    }


def test_domain_edges_duckdb_parity(spark):
    sdf = spark.createDataFrame(DOCS, ["doc_id", "text"])
    con = duckdb_connect()
    con.register("docs", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    a = (
        domain_cooccurrence_edges(sdf, "doc_id", "text")
        .toPandas()
        .sort_values(["src", "dst"])
        .reset_index(drop=True)
    )
    b = (
        con.sql(oe.domain_cooccurrence_edges_sql("docs", "doc_id", "text"))
        .df()
        .sort_values(["src", "dst"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
