"""Tokenizer parity tests vs hand-computed sets and the DuckDB
reference SQL semantics (tokenizers/__init__.py:1-49)."""

import pytest

from jaccard_join_duckdb_spark import DelimiterTokzr, QGramsTokzr, WhitespaceTokzr
from jaccard_join_duckdb_spark.session import duckdb_connect


def _spark_tokens(tok, spark, rows):
    df = spark.createDataFrame(rows, ["id", "val"])
    out = tok.tokenize(df, "id", "val")
    return sorted((r.id, r.len, r.token) for r in out.collect())


def _duckdb_tokens(sql_tok, rows):
    """Run the reference's tokenizer SQL shape in DuckDB."""
    con = duckdb_connect()
    con.execute("create table t (id integer, val varchar)")
    con.executemany("insert into t values (?, ?)", rows)
    return sorted(tuple(r) for r in con.execute(sql_tok).fetchall())


def _ws_sql(return_set=True):
    distinct = "list_distinct" if return_set else ""
    return (
        "select id, len(tks) as len, lower(unnest(tks)) as token from ("
        f"select id, {distinct}(list_filter(str_split_regex(val, '[ \t\r\n]'),"
        " x -> trim(x) != '')) as tks from t)"
    )


def _qgram_sql(q, return_set=True):
    distinct = "list_distinct" if return_set else ""
    return (
        "select id, len(tks) as len, lower(unnest(tks)) as token from ("
        f"select id, {distinct}(list_transform(generate_series(1, len(val) + {q} - 1),"
        f" x -> substring(concat(repeat('#', {q} - 1), lower(val), repeat('#', {q} - 1)), x, {q})))"
        " as tks from t)"
    )


ROWS = [
    (1, "Bible charger pan whisk"),
    (2, "colander  comb\trazor tuner whisk"),
    (3, "Whisk whisk"),  # case-sensitive dedup quirk
    (4, ""),
    (5, "   "),
    (6, "solo"),
]


def test_whitespace_set_matches_duckdb(spark):
    assert _spark_tokens(WhitespaceTokzr(), spark, ROWS) == _duckdb_tokens(
        _ws_sql(True), ROWS
    )


def test_whitespace_bag_matches_duckdb(spark):
    assert _spark_tokens(WhitespaceTokzr(return_set=False), spark, ROWS) == _duckdb_tokens(
        _ws_sql(False), ROWS
    )


@pytest.mark.parametrize("q", [2, 3, 5])
def test_qgrams_matches_duckdb(spark, q):
    rows = [(1, "Pan"), (2, "a"), (3, ""), (4, "colander"), (5, "ab cd")]
    assert _spark_tokens(QGramsTokzr(q), spark, rows) == _duckdb_tokens(
        _qgram_sql(q, True), rows
    )


def test_qgrams_bag_matches_duckdb(spark):
    rows = [(1, "banana"), (2, "aaaa")]
    assert _spark_tokens(QGramsTokzr(3, return_set=False), spark, rows) == _duckdb_tokens(
        _qgram_sql(3, False), rows
    )


def test_delimiter_custom_seps(spark):
    tok = DelimiterTokzr({",", ";"})
    out = _spark_tokens(tok, spark, [(1, "a,b;;C,a")])
    assert out == [(1, 3, "a"), (1, 3, "b"), (1, 3, "c")]
    # set dedup is case-sensitive pre-lower: 'C' vs 'c' both kept
    out2 = _spark_tokens(tok, spark, [(1, "c,C")])
    assert out2 == [(1, 2, "c"), (1, 2, "c")]


def test_case_sensitive_dedup_quirk(spark):
    # "Whisk whisk": distinct before lower -> len 2, two lowercase rows
    out = _spark_tokens(WhitespaceTokzr(), spark, [(3, "Whisk whisk")])
    assert out == [(3, 2, "whisk"), (3, 2, "whisk")]


def test_len_is_pre_explode_cardinality(spark):
    out = _spark_tokens(WhitespaceTokzr(), spark, [(1, "x x x y")])
    assert {(r[0], r[1]) for r in out} == {(1, 2)}
    bag = _spark_tokens(WhitespaceTokzr(return_set=False), spark, [(1, "x x x y")])
    assert {(r[0], r[1]) for r in bag} == {(1, 4)}


def _words_sql(pattern, return_set=True):
    distinct = "list_distinct" if return_set else ""
    return (
        "select id, len(tks) as len, lower(unnest(tks)) as token from ("
        f"select id, {distinct}(list_filter(str_split_regex(val, '{pattern}'),"
        " x -> trim(x) != '')) as tks from t)"
    )


PIPE_ROWS = [
    (1, "Bible|charger|pan|whisk"),
    (2, "colander||comb|razor"),
    (3, "Whisk|whisk"),  # case-sensitive dedup quirk carries over
    (4, ""),
    (5, "|||"),
    (6, "solo"),
    (7, "a|b c|d"),  # only the pipe splits; spaces stay inside tokens
]


def test_words_tokzr_matches_duckdb(spark):
    """Historical WordsTokzr (test.ipynb cell 27): caller-supplied
    regex split, reference semantics via the same DuckDB shape as
    DelimiterTokzr."""
    from jaccard_join_duckdb_spark import WordsTokzr

    tok = WordsTokzr(r"'\|'")  # historical call style: SQL-quoted
    assert tok.pattern == r"\|"
    assert _spark_tokens(tok, spark, PIPE_ROWS) == _duckdb_tokens(
        _words_sql(r"\|", True), PIPE_ROWS
    )
    bag = WordsTokzr(r"\|", return_set=False)  # unquoted also accepted
    assert _spark_tokens(bag, spark, PIPE_ROWS) == _duckdb_tokens(
        _words_sql(r"\|", False), PIPE_ROWS
    )


def test_words_tokzr_join_parity(spark):
    """End-to-end: a self join under WordsTokzr matches the reference
    pipeline in DuckDB (ref_sql routes it through the DelimiterTokzr
    branch via .pattern)."""
    import os

    from jaccard_join_duckdb_spark import WordsTokzr, jaccard_self_join
    from jaccard_join_duckdb_spark.plans.ref_sql import self_filtered_sql
    from tests.conftest import TESTS_DIR, pairs

    purchases = os.path.join(TESTS_DIR, "data", "purchases.csv")
    from jaccard_join_duckdb_spark.sources import read_csv

    # purchases values are space-delimited; split on space via regex
    tok = WordsTokzr("' '")
    df = read_csv(spark, purchases)
    got = pairs(jaccard_self_join(df, "id", "purchases", tok, 0.4))
    want = {
        tuple(sorted((a, b), key=str))
        for a, b in duckdb_connect().execute(
            self_filtered_sql(f"'{purchases}'", "id", "purchases", tok, 0.4)
        ).fetchall()
    }
    assert got == want
