"""End-to-end corpus curation: Spark pipeline ≡ composed DuckDB SQL
on a corpus with junk docs, exact dups, and near-dup families."""

import pytest

from jaccard_join_duckdb_spark.operators.curate import curate_corpus
from jaccard_join_duckdb_spark.plans.oracle_ext import curate_corpus_sql
from jaccard_join_duckdb_spark.session import duckdb_connect

ROWS = [
    (1, "the quick brown fox jumps over the lazy dog and then naps"),
    (2, "the quick brown fox jumps over the lazy dog and then naps"),
    (3, "the quick brown fox jumps over the lazy dog and then sleeps"),
    (4, "12345 67890 12345 67890 12345 67890 12345"),
    (5, "short"),
    (6, "a completely different document about the weather in the mountains today"),
    (7, "a completely different document about the weather in the mountains today"),
    (8, "the sun was shining and the birds were singing in the quiet green park"),
    # German doc: dropped by the optional language gate, survives
    # every other stage (long enough, good quality, no duplicate)
    (9, "der hund und die katze sind nicht in das haus und der garten ist ein ort"),
]

# vec_id == doc_id; all values dyadic (exact in float32 AND in the
# DuckDB literal view, so both engines fold identical doubles). Docs
# 6 and 8 are semantic near-dups (cosine ≈ 0.992) whose TEXTS differ —
# only the embedding stage can merge them. Doc 3 has no embedding.
EMB_ROWS = [
    (1, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    (4, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    (5, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0]),
    (6, [0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]),
    (7, [0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0]),
    (8, [0.0, 0.0, 0.0, 0.0, 1.0, 0.125, 0.0, 0.0]),
    (9, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0]),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_curate_matches_duckdb(docs):
    got = {
        (r.doc_id, r.n_tokens, r.quality)
        for r in curate_corpus(
            docs, "doc_id", "text",
            min_quality=0.3, min_tokens=5, neardup_threshold=0.8,
        ).collect()
    }
    con = duckdb_connect()
    vals = ", ".join(f"({i}, '{t}')" for i, t in ROWS)
    con.execute(
        f"create view documents as select * from (values {vals}) v(doc_id, text)"
    )
    want = {
        tuple(r)
        for r in con.execute(
            curate_corpus_sql(
                "documents", "doc_id", "text",
                min_quality=0.3, min_tokens=5, neardup_threshold=0.8,
            )
        ).fetchall()
    }
    assert got == want
    kept_ids = {r[0] for r in got}
    # junk/digit doc and too-short doc are gone; each dup family keeps
    # its min id
    assert 4 not in kept_ids and 5 not in kept_ids
    assert 1 in kept_ids and 2 not in kept_ids
    assert 6 in kept_ids and 7 not in kept_ids
    assert 8 in kept_ids


def test_curate_full_matches_duckdb(spark, docs):
    """All optional stages engaged: language gate + banded embedding
    near-dup stage, Spark ≡ the composed DuckDB statement."""
    emb = spark.createDataFrame(
        EMB_ROWS, "vec_id long, embedding array<float>"
    )
    got = {
        (r.doc_id, r.n_tokens, r.quality)
        for r in curate_corpus(
            docs, "doc_id", "text",
            min_quality=0.3, min_tokens=5, neardup_threshold=0.8,
            allowed_langs=["en"],
            embeddings=emb, emb_threshold=0.95, emb_dim=8,
        ).collect()
    }
    con = duckdb_connect()
    vals = ", ".join(f"({i}, '{t}')" for i, t in ROWS)
    con.execute(
        f"create view documents as select * from (values {vals}) v(doc_id, text)"
    )
    evals = ", ".join(
        "(" + str(i) + ", [" + ", ".join(repr(x) for x in v) + "])"
        for i, v in EMB_ROWS
    )
    con.execute(
        "create view embeddings as select vec_id, CAST(embedding AS FLOAT[])"
        f" as embedding from (values {evals}) e(vec_id, embedding)"
    )
    want = {
        tuple(r)
        for r in con.execute(
            curate_corpus_sql(
                "documents", "doc_id", "text",
                min_quality=0.3, min_tokens=5, neardup_threshold=0.8,
                allowed_langs=["en"],
                emb_table="embeddings", emb_threshold=0.95, emb_dim=8,
            )
        ).fetchall()
    }
    assert got == want
    kept_ids = {r[0] for r in got}
    # the base-variant survivors minus: 9 (German → language gate) and
    # 8 (semantic near-dup of 6 → embedding stage keeps min id 6)
    assert 9 not in kept_ids
    assert 6 in kept_ids and 8 not in kept_ids
    assert 1 in kept_ids


def test_curate_repetition_gate_composes(spark, documents):
    """The repetition gate is a strict additional filter: its
    survivor set is a subset of the ungated pipeline's, and equals
    manually pre-filtering by repetition_stats then running the
    ungated pipeline on the result... with the caveat that dedup
    clusters differ when members were cut — so assert the exact
    semantics instead: survivors == curate(survivor-universe where
    repetition ok)."""
    from pyspark.sql import functions as F

    from jaccard_join_duckdb_spark.functions.text import repetition_stats
    from jaccard_join_duckdb_spark.operators.curate import curate_corpus

    base = {
        r.doc_id
        for r in curate_corpus(
            documents, "doc_id", "text",
            min_quality=0.3, min_tokens=20, neardup_threshold=0.9,
        ).collect()
    }
    gated = {
        r.doc_id
        for r in curate_corpus(
            documents, "doc_id", "text",
            min_quality=0.3, min_tokens=20, neardup_threshold=0.9,
            max_dup_token_ratio=0.72, max_top_token_frac=0.12,
        ).collect()
    }
    assert gated and gated != base

    ok = repetition_stats(documents, "doc_id", "text").filter(
        (F.col("dup_token_ratio") <= 0.72) & (F.col("top_token_frac") <= 0.12)
    ).select(F.col("id").alias("doc_id"))
    manual = {
        r.doc_id
        for r in curate_corpus(
            documents.join(ok, "doc_id", "left_semi"), "doc_id", "text",
            min_quality=0.3, min_tokens=20, neardup_threshold=0.9,
        ).collect()
    }
    assert gated == manual


class TestCorpusDiff:
    def test_statuses(self, spark):
        from jaccard_join_duckdb_spark.operators.curate import corpus_diff

        old = spark.createDataFrame(
            [(1, "same text"), (2, "will change"), (3, "will be removed"),
             (4, None), (5, "spacing   only"), (6, None)],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1, "same text"), (2, "changed now"), (7, "brand new"),
             (4, None), (5, "spacing only"), (6, "null became text")],
            "doc_id long, text string",
        )
        got = {
            r["id"]: r["status"]
            for r in corpus_diff(old, new, "doc_id", "text").collect()
        }
        assert got == {
            1: "unchanged",
            2: "changed",
            3: "removed",
            4: "unchanged",   # NULL -> NULL
            5: "unchanged",   # whitespace-only churn is not a change
            6: "changed",     # NULL -> text
            7: "added",
        }

    def test_duckdb_parity(self, spark):
        import pandas as pd

        from jaccard_join_duckdb_spark.operators.curate import corpus_diff
        from jaccard_join_duckdb_spark.plans import oracle_ext as oe

        old = pd.DataFrame(
            [(1, "alpha beta"), (2, "gamma"), (3, None), (4, "keep")],
            columns=["doc_id", "text"],
        )
        new = pd.DataFrame(
            [(1, "ALPHA   beta"), (2, "different"), (3, "text now"),
             (5, "added doc")],
            columns=["doc_id", "text"],
        )
        con = duckdb_connect()
        con.register("old_t", old)
        con.register("new_t", new)
        a = (
            corpus_diff(
                spark.createDataFrame(old), spark.createDataFrame(new),
                "doc_id", "text",
            ).toPandas().sort_values("id").reset_index(drop=True)
        )
        b = (
            con.sql(oe.corpus_diff_sql("old_t", "new_t", "doc_id", "text"))
            .df().sort_values("id").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            a[sorted(a.columns)], b[sorted(b.columns)], check_dtype=False
        )
