"""Canonicalization + chunking (functions/canon.py): crafted-input
semantics, DuckDB oracle parity on adversarial strings, and the
window-coverage invariants of the chunker. The sf0.01 hash gate runs
the same operators corpus-wide (text_normalize, dedup_lines_in_doc,
chunk_documents in __spark_entry__)."""

import pandas as pd
import pytest

from jaccard_join_duckdb_spark.functions.canon import (
    ACCENT_FROM,
    ACCENT_TO,
    chunk_documents,
    dedup_lines_in_doc,
    normalize_text,
)
from jaccard_join_duckdb_spark.plans import oracle_ext as oe
from jaccard_join_duckdb_spark.session import duckdb_connect

MESSY = [
    (1, "Héllo…  Wörld — “quoted” l ine\nrepeat\nrepeat\n\nrepeat\nunique"),
    (2, "a b c d e f g h i j"),
    (3, ""),
    (4, None),
    (5, "Ça-va? Déjà ‘tick’ \x01ctl\ttab  many   spaces \n  indented  \nŁódź"),
    (6, "x\ny\nx\ny\nz\n\n\nx"),
]


def _duck(rows):
    con = duckdb_connect()
    con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    return con


def _assert_parity(spark_df, con, sql, sort_cols):
    a = spark_df.toPandas().sort_values(sort_cols).reset_index(drop=True)
    b = con.sql(sql).df().sort_values(sort_cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[sorted(a.columns)], b[sorted(b.columns)], check_dtype=False
    )


# ---------------------------------------------------------------- normalize

def test_fold_map_lengths_and_uniqueness():
    assert len(ACCENT_FROM) == len(ACCENT_TO)
    assert len(set(ACCENT_FROM)) == len(ACCENT_FROM)


def test_normalize_semantics(spark):
    df = spark.createDataFrame(
        [(1, "Héllo… “Wörld” – Ça va \x01ok  many   spaces")],
        ["doc_id", "text"],
    )
    row = normalize_text(df, "doc_id", "text").collect()[0]
    assert row["norm_text"] == 'Hello... "World" - Ca va ok many spaces'
    assert row["n_chars"] > row["n_chars_norm"]


def test_normalize_preserves_newlines_and_trims_line_edges(spark):
    df = spark.createDataFrame(
        [(1, "  lead\ntrail  \n  both  ")], ["doc_id", "text"]
    )
    row = normalize_text(df, "doc_id", "text").collect()[0]
    assert row["norm_text"] == "lead\ntrail\nboth"


def test_normalize_lowercase_flag(spark):
    df = spark.createDataFrame([(1, "ÀBc")], ["doc_id", "text"])
    assert (
        normalize_text(df, "doc_id", "text", lowercase=True)
        .collect()[0]["norm_text"]
        == "abc"
    )


def test_normalize_duckdb_parity(spark):
    sdf = spark.createDataFrame(MESSY, "doc_id long, text string")
    con = _duck(MESSY)
    for lc in (False, True):
        _assert_parity(
            normalize_text(sdf, "doc_id", "text", lowercase=lc),
            con,
            oe.normalize_text_sql("docs", "doc_id", "text", lowercase=lc),
            ["id"],
        )


# ---------------------------------------------------------------- line dedup

def test_dedup_lines_keep_first_and_blanks(spark):
    df = spark.createDataFrame(
        [(1, "a\nb\na\n\nb\n\nc\na")], ["doc_id", "text"]
    )
    row = dedup_lines_in_doc(df, "doc_id", "text").collect()[0]
    assert row["clean_text"] == "a\nb\n\n\nc"
    assert row["n_lines"] == 8
    assert row["n_dropped"] == 3


def test_dedup_lines_no_repeats_is_identity(spark):
    df = spark.createDataFrame([(1, "a\nb\nc")], ["doc_id", "text"])
    row = dedup_lines_in_doc(df, "doc_id", "text").collect()[0]
    assert row["clean_text"] == "a\nb\nc"
    assert row["n_dropped"] == 0


def test_dedup_lines_null_and_empty(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    rows = {
        r["id"]: r for r in dedup_lines_in_doc(df, "doc_id", "text").collect()
    }
    for i in (1, 2):
        assert rows[i]["clean_text"] == ""
        assert rows[i]["n_lines"] == 1  # split('') -> ['']
        assert rows[i]["n_dropped"] == 0


def test_dedup_lines_duckdb_parity(spark):
    sdf = spark.createDataFrame(MESSY, "doc_id long, text string")
    _assert_parity(
        dedup_lines_in_doc(sdf, "doc_id", "text"),
        _duck(MESSY),
        oe.dedup_lines_in_doc_sql("docs", "doc_id", "text"),
        ["id"],
    )


# ---------------------------------------------------------------- chunking

def _toks(n):
    return " ".join(f"t{i}" for i in range(1, n + 1))


def test_chunk_exact_windows(spark):
    df = spark.createDataFrame([(1, _toks(10))], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, "doc_id", "text", 6, 4).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert [r["chunk_text"] for r in rows] == [
        "t1 t2 t3 t4 t5 t6",
        "t5 t6 t7 t8 t9 t10",
    ]
    assert [r["n_tokens"] for r in rows] == [6, 6]


def test_chunk_short_doc_single_window(spark):
    df = spark.createDataFrame([(1, _toks(6))], ["doc_id", "text"])
    rows = chunk_documents(df, "doc_id", "text", 6, 4).collect()
    assert len(rows) == 1 and rows[0]["n_tokens"] == 6


def test_chunk_empty_doc_yields_no_rows(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "  \t ")], "doc_id long, text string"
    )
    assert chunk_documents(df, "doc_id", "text").count() == 0


def test_chunk_covers_every_token(spark):
    """Window-coverage invariant: union of [start, start+len) ranges
    covers [1, n] for assorted n around the window boundaries."""
    sizes = [1, 5, 6, 7, 10, 11, 12, 13, 24, 25]
    df = spark.createDataFrame(
        [(n, _toks(n)) for n in sizes], ["doc_id", "text"]
    )
    c, s = 6, 4
    rows = chunk_documents(df, "doc_id", "text", c, s).collect()
    cover = {}
    for r in rows:
        start = r["chunk_id"] * s + 1
        cover.setdefault(r["id"], set()).update(
            range(start, start + r["n_tokens"])
        )
        assert 1 <= r["n_tokens"] <= c
    for n in sizes:
        assert cover[n] == set(range(1, n + 1)), f"n={n}"


def test_chunk_validation():
    df = None
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=0)
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=8, stride=0)
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=8, stride=9)


def test_chunk_duckdb_parity(spark):
    rows = [(n, _toks(n)) for n in (1, 3, 6, 7, 10, 23)] + [(99, None)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    _assert_parity(
        chunk_documents(sdf, "doc_id", "text", 6, 4),
        _duck(rows),
        oe.chunk_documents_sql("docs", "doc_id", "text", 6, 4),
        ["id", "chunk_id"],
    )


# ---------------------------------------------------------------- sentences

def test_split_sentences_semantics(spark):
    from jaccard_join_duckdb_spark.functions.canon import split_sentences

    df = spark.createDataFrame(
        [
            (1, "First one. Second! Third?? trailing bit"),
            (2, "no terminal punctuation"),
            (3, ""),
            (4, None),
            (5, "Ellipsis... counts once. end."),
        ],
        "doc_id long, text string",
    )
    got = {}
    for r in split_sentences(df, "doc_id", "text").collect():
        got.setdefault(r["id"], []).append((r["sent_id"], r["sentence"]))
    for sents in got.values():
        assert [i for i, _ in sorted(sents)] == list(range(len(sents)))
    assert [s for _, s in sorted(got[1])] == [
        "First one.", "Second!", "Third??", "trailing bit",
    ]
    assert [s for _, s in sorted(got[2])] == ["no terminal punctuation"]
    assert 3 not in got and 4 not in got
    assert [s for _, s in sorted(got[5])] == [
        "Ellipsis...", "counts once.", "end.",
    ]


def test_split_sentences_duckdb_parity(spark):
    from jaccard_join_duckdb_spark.functions.canon import split_sentences

    rows = MESSY + [(7, "A. B! C? D... E")]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    _assert_parity(
        split_sentences(sdf, "doc_id", "text"),
        _duck(rows),
        oe.split_sentences_sql("docs", "doc_id", "text"),
        ["id", "sent_id"],
    )
