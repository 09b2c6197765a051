"""Reference-dataset parity: the reference validates on Febrl-style
``S{1,2,3}_clean_.csv`` and ``NCVR_{A,B,C}F_clean.csv`` person
records (``/root/reference/notebook.ipynb`` cells 9-17 and 20-27) —
multi-field ``concat(...)`` join values, a 3-way unioned self join
('srcall') and a two-table inner join (src1 × src2). This grid runs
the SAME pipelines on Spark and on the reference SQL in DuckDB and
requires identical pair sets, across tokenizers × thresholds.

These corpora exercise hazards the synthetic documents table does
not: NULL fields inside concat (doubled separators), mixed-type
columns (ints, blank-space phone numbers), near-identical person
records with real skew, and string keys (``S1_0``, ``0_22_9865350``)
rather than bigints.
"""

import os

import pytest

from jaccard_join_duckdb_spark import (
    QGramsTokzr,
    WhitespaceTokzr,
    get_spark,
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
from jaccard_join_duckdb_spark.sources import concat_val, read_csv
from tests.conftest import TESTS_DIR, pairs

DATA = os.path.join(TESTS_DIR, "data")

# notebook cell 9: concat(given_name, ' ', surname, ' ', date_of_birth)
S_FIELDS = ["given_name", "surname", "date_of_birth"]
S_FILES = [os.path.join(DATA, f"S{i}_clean_.csv") for i in (1, 2, 3)]

# notebook cell 20: 12-field concat (includes a blank phone_num column)
NCVR_FIELDS = [
    "entity", "rec_id", "first_name", "last_name", "sex", "age",
    "birth_place", "house_num", "county_desc", "street_name",
    "zip_code", "phone_num",
]
NCVR_FILES = [
    os.path.join(DATA, f"NCVR_{c}F_clean.csv") for c in ("A", "B", "C")
]


def _concat_sql(fields):
    return "concat(" + ", ' ', ".join(fields) + ")"


def _scan(path, all_varchar):
    # NCVR ids like 0_22_9865350 trip DuckDB's sniffer (underscores
    # read as digit separators -> BIGINT, dropping the leading 0);
    # all_varchar pins the id to the string both engines agree on.
    # The concat'd val is unchanged either way (concat stringifies).
    if all_varchar:
        return f"read_csv('{path}', header=true, all_varchar=true)"
    return f"'{path}'"


def _src_sql(path, fields, all_varchar=False):
    return (
        f"(select id, {_concat_sql(fields)} as val "
        f"from {_scan(path, all_varchar)})"
    )


def _all_sql(files, fields, all_varchar=False):
    # notebook cell 12/24: UNION (distinct) of the three sources.
    return (
        "("
        + " union ".join(
            f"select id, {_concat_sql(fields)} as val "
            f"from {_scan(p, all_varchar)}"
            for p in files
        )
        + ")"
    )


def _src_df(spark, path, fields):
    return read_csv(spark, path).select("id", concat_val(*fields).alias("val"))


def _all_df(spark, files, fields):
    dfs = [_src_df(spark, p, fields) for p in files]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.union(d)
    return out.distinct()


def duck_pairs(sql):
    rows = duckdb_connect().execute(sql).fetchall()
    return {tuple(sorted((a, b))) for a, b in rows}


@pytest.fixture(scope="module")
def spark():
    return get_spark(master="local[4]")


@pytest.mark.parametrize("t", [0.2, 0.5, 0.8])
@pytest.mark.parametrize("mk_tok", [WhitespaceTokzr, lambda: QGramsTokzr(3)])
def test_s_self_parity(spark, t, mk_tok):
    """notebook cells 13-15: self join over srcall (S1 ∪ S2 ∪ S3)."""
    tok = mk_tok()
    df = _all_df(spark, S_FILES, S_FIELDS)
    got = pairs(jaccard_self_join(df, "id", "val", tok, t))
    want = duck_pairs(
        self_filtered_sql(_all_sql(S_FILES, S_FIELDS), "id", "val", tok, t)
    )
    assert got == want
    got_bf = pairs(jaccard_self_join_brute_force(df, "id", "val", tok, t))
    want_bf = duck_pairs(
        self_brute_sql(_all_sql(S_FILES, S_FIELDS), "id", "val", tok, t)
    )
    assert got_bf == want_bf


@pytest.mark.parametrize("t", [0.2, 0.5, 0.8])
@pytest.mark.parametrize("mk_tok", [WhitespaceTokzr, lambda: QGramsTokzr(3)])
def test_s_inner_parity(spark, t, mk_tok):
    """notebook cells 16-17: inner join src1 × src2."""
    tok = mk_tok()
    l = _src_df(spark, S_FILES[0], S_FIELDS)
    r = _src_df(spark, S_FILES[1], S_FIELDS)
    got = pairs(
        jaccard_inner_join(l, r, "id", "id", "val", "val", tok, t)
    )
    want = duck_pairs(
        inner_filtered_sql(
            _src_sql(S_FILES[0], S_FIELDS), _src_sql(S_FILES[1], S_FIELDS),
            "id", "id", "val", "val", tok, t,
        )
    )
    assert got == want


@pytest.mark.parametrize("t", [0.2, 0.5, 0.8])
def test_ncvr_self_parity(spark, t):
    """notebook cells 25-26: WhitespaceTokzr self join over NCVR
    A ∪ B ∪ C (real person-record skew, blank phone_num field)."""
    tok = WhitespaceTokzr()
    df = _all_df(spark, NCVR_FILES, NCVR_FIELDS)
    got = pairs(jaccard_self_join(df, "id", "val", tok, t))
    want = duck_pairs(
        self_filtered_sql(
            _all_sql(NCVR_FILES, NCVR_FIELDS, all_varchar=True),
            "id", "val", tok, t,
        )
    )
    assert got == want


@pytest.mark.parametrize("t", [0.2, 0.5])
@pytest.mark.parametrize("mk_tok", [WhitespaceTokzr, lambda: QGramsTokzr(3)])
def test_ncvr_inner_parity(spark, t, mk_tok):
    """notebook cell 27: inner join NCVR_AF × NCVR_BF (+ the q-gram
    variant the notebook keeps commented — same API surface)."""
    tok = mk_tok()
    l = _src_df(spark, NCVR_FILES[0], NCVR_FIELDS)
    r = _src_df(spark, NCVR_FILES[1], NCVR_FIELDS)
    got = pairs(
        jaccard_inner_join(l, r, "id", "id", "val", "val", tok, t)
    )
    want = duck_pairs(
        inner_filtered_sql(
            _src_sql(NCVR_FILES[0], NCVR_FIELDS, all_varchar=True),
            _src_sql(NCVR_FILES[1], NCVR_FIELDS, all_varchar=True),
            "id", "id", "val", "val", tok, t,
        )
    )
    assert got == want
    got_bf = pairs(
        jaccard_inner_join_brute_force(
            l, r, "id", "id", "val", "val", tok, t
        )
    )
    want_bf = duck_pairs(
        inner_brute_sql(
            _src_sql(NCVR_FILES[0], NCVR_FIELDS, all_varchar=True),
            _src_sql(NCVR_FILES[1], NCVR_FIELDS, all_varchar=True),
            "id", "id", "val", "val", tok, t,
        )
    )
    assert got_bf == want_bf
