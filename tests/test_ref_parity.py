"""Bit-for-bit parity of the Spark operators with the reference
pipeline executed in DuckDB (via plans/ref_sql.py), across paths ×
tokenizers × thresholds — the strongest form of the reference's own
differential testing (SURVEY.md §5)."""

import os

import pytest
from pyspark.sql import functions as F

from jaccard_join_duckdb_spark import (
    QGramsTokzr,
    WhitespaceTokzr,
    jaccard_inner_join,
    jaccard_inner_join_brute_force,
    jaccard_self_join,
    jaccard_self_join_brute_force,
)
from jaccard_join_duckdb_spark.plans.ref_sql import (
    inner_brute_sql,
    inner_filtered_sql,
    self_brute_sql,
    self_filtered_sql,
)
from jaccard_join_duckdb_spark.session import duckdb_connect
from tests.conftest import SF_SMALL, TESTS_DIR, pairs

PURCHASES = os.path.join(TESTS_DIR, "data", "purchases.csv")
DOCS = os.path.join(SF_SMALL, "documents.parquet")


def duck_pairs(sql):
    rows = duckdb_connect().execute(sql).fetchall()
    return {tuple(sorted((a, b), key=str)) for a, b in rows}


@pytest.mark.parametrize("t", [0.2, 0.4, 0.5, 0.7])
@pytest.mark.parametrize("mk_tok", [
    lambda: WhitespaceTokzr(),
    lambda: WhitespaceTokzr(return_set=False),
    lambda: QGramsTokzr(3),
    lambda: QGramsTokzr(5, return_set=False),
])
def test_self_parity_purchases(purchases, t, mk_tok):
    tok = mk_tok()
    filt = jaccard_self_join(purchases, "id", "purchases", tok, t)
    assert pairs(filt) == duck_pairs(
        self_filtered_sql(f"'{PURCHASES}'", "id", "purchases", tok, t)
    )
    brute = jaccard_self_join_brute_force(purchases, "id", "purchases", tok, t)
    assert pairs(brute) == duck_pairs(
        self_brute_sql(f"'{PURCHASES}'", "id", "purchases", tok, t)
    )


@pytest.mark.parametrize("t", [0.8, 0.9])
def test_self_parity_documents(documents, t):
    tok = WhitespaceTokzr()
    filt = jaccard_self_join(documents, "doc_id", "text", tok, t)
    assert pairs(filt) == duck_pairs(
        self_filtered_sql(f"'{DOCS}'", "doc_id", "text", tok, t)
    )


def test_inner_parity_documents_split(documents):
    t = 0.9
    tok = WhitespaceTokzr()
    l = documents.filter(F.col("doc_id") % 2 == 0)
    r = documents.filter(F.col("doc_id") % 2 == 1)
    filt = jaccard_inner_join(l, r, "doc_id", "doc_id", "text", "text", tok, t)
    ref = inner_filtered_sql(
        f"(select * from '{DOCS}' where doc_id % 2 = 0)",
        f"(select * from '{DOCS}' where doc_id % 2 = 1)",
        "doc_id", "doc_id", "text", "text", tok, t,
    )
    assert pairs(filt) == duck_pairs(ref)
    brute = jaccard_inner_join_brute_force(
        l, r, "doc_id", "doc_id", "text", "text", tok, t
    )
    assert pairs(brute) == duck_pairs(
        inner_brute_sql(
            f"(select * from '{DOCS}' where doc_id % 2 = 0)",
            f"(select * from '{DOCS}' where doc_id % 2 = 1)",
            "doc_id", "doc_id", "text", "text", tok, t,
        )
    )


def test_inner_parity_purchases_interests():
    """Two genuinely different small tables (asymmetric widows)."""
    import jaccard_join_duckdb_spark as jj

    spark = jj.get_spark(master="local[4]")
    from jaccard_join_duckdb_spark.sources import read_csv

    interests_csv = os.path.join(TESTS_DIR, "data", "interests.csv")
    l = read_csv(spark, PURCHASES)
    r = read_csv(spark, interests_csv)
    tok = QGramsTokzr(2)
    for t in (0.3, 0.5):
        filt = jaccard_inner_join(l, r, "id", "id", "purchases", "interests", tok, t)
        ref = inner_filtered_sql(
            f"'{PURCHASES}'", f"'{interests_csv}'",
            "id", "id", "purchases", "interests", tok, t,
        )
        assert pairs(filt) == duck_pairs(ref), t
