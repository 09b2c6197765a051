"""Property-based differential fuzzing: on ARBITRARY small corpora
(edge cases hypothesis finds: empty strings, case variants, repeated
tokens, whitespace runs, single-char docs) the filtered join must
equal the brute-force oracle for every tokenizer × threshold — the
reference's own test discipline (SURVEY.md §5) driven by generated
data instead of fixtures.

Each example costs a Spark job, so examples are capped and the
deadline disabled; the value is the weird corpora, not the volume.
"""

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# Soak knob: each example costs Spark jobs (+ a DuckDB reference run),
# so default low; set SPARK_GRAFT_FUZZ_EXAMPLES=50 for a deep pass.
_N_EXAMPLES = int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "10"))

import jaccard_join_duckdb_spark as jj
from jaccard_join_duckdb_spark import (
    QGramsTokzr,
    WhitespaceTokzr,
    jaccard_inner_join,
    jaccard_inner_join_brute_force,
    jaccard_self_join,
    jaccard_self_join_brute_force,
)
from tests import ref_oracle
from tests.conftest import pairs

# When the reference checkout + duckdb are present (they are in the dev
# container), every fuzz example is ALSO checked for exact equality
# against the reference implementation itself — the strongest possible
# differential (catches both unfaithful misses and unfaithful extras,
# with no hand-derived preconditions). Without it, tests fall back to
# the universal `filtered <= brute` contract plus the documented
# precondition-gated equality.
_REF = ref_oracle.available()

# Tiny alphabet maximizes token collisions (shared tokens are what
# stress the filters); mixed case exercises the lowercase quirks;
# multi-space runs exercise the blank-token filter; punctuation-bearing
# and accented words exercise the delimiter split and unicode
# lowercasing parity between engines.
_WORDS = ["a", "b", "ab", "A", "Ba", "b b", "", "  ", "ccc", "a,b", "c;a", "Ü"]
_corpus = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=6).map(" ".join),
    min_size=2,
    max_size=12,
)


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


def _named_pairs(df):
    """Directed (left-id, right-id) pairs resolved by column NAME: the
    reference's inner join emits columns in (R, S) order, so after a
    side-swap the physical first column is the r-table key named
    'r_<key>' (jaccard_join.py:391; reproduced by our
    test_inner_column_name_quirk) — positional comparison would see
    mirrored tuples."""
    lcol = next(c for c in df.columns if c.startswith("l_"))
    rcol = next(c for c in df.columns if c.startswith("r_"))
    return {(row[lcol], row[rcol]) for row in df.collect()}


@settings(
    max_examples=_N_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_corpus, t=st.sampled_from([0.2, 0.5, 0.8]))
@pytest.mark.parametrize("tok_spec", [
    ("WhitespaceTokzr", (), {}),
    ("WhitespaceTokzr", (), {"return_set": False}),
    ("QGramsTokzr", (2,), {}),
    ("DelimiterTokzr", ([",", ";", " "],), {}),
    # Historical WordsTokzr: 1-char pattern maps to the reference's
    # DelimiterTokzr (see ref_oracle._ref_tokenizer), so the port is
    # fuzzed against the actual reference implementation.
    ("WordsTokzr", (",",), {}),
], ids=["ws-set", "ws-bag", "qgram2", "delim", "words"])
def test_filtered_equals_brute_on_random_corpora(_spark, texts, t, tok_spec):
    name, args, kwargs = tok_spec
    mk_tok = lambda: getattr(jj, name)(*args, **kwargs)
    df = _spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "id long, val string"
    )
    filt = pairs(jaccard_self_join(df, "id", "val", mk_tok(), t))
    brute = pairs(jaccard_self_join_brute_force(df, "id", "val", mk_tok(), t))
    if _REF:
        ref_filt, ref_brute = ref_oracle.self_join_pairs(texts, tok_spec, t)
        assert filt == ref_filt
        assert brute == ref_brute
    # SURVEY.md §4.3.2: on quirk-triggering data filtered ⊆ brute is
    # the reference-faithful contract (the reference's lexicographic
    # concat(len,'_',id) pair key can put the LONGER record on the
    # indexing side once any record has >= 10 distinct tokens — '10_x'
    # < '9_y' as strings — and then prefix filtering may drop a true
    # pair; verified against /root/reference on the corpus pinned in
    # test_lexicographic_lid_quirk_parity below). Exact equality is
    # only guaranteed while every len is single-digit, where string
    # and numeric orderings of the key agree.
    assert filt <= brute
    if _REF:
        return
    tok = mk_tok()
    stats = (
        tok.tokenize(df, "id", "val")
        .agg(
            F.max("len").alias("max_len"),
            (
                F.count(F.lit(1)) - F.count_distinct("id", "token")
            ).alias("dup_rows"),
        )
        .first()
    )
    # Second equality precondition: no case-collapsed duplicate token
    # rows. DelimiterTokzr dedups BEFORE lowercasing (reference
    # tokenizers/__init__.py:39 quirk), so "A a" yields len=2 and two
    # identical 'a' rows; brute force then double-counts the shared
    # token and can emit pairs whose true set-Jaccard is below t,
    # which the filtered path's length filter correctly prunes —
    # verified against /root/reference (see the inner-path golden
    # below, same mechanism).
    if (
        tok.rows_distinct
        and (stats.max_len or 0) < 10
        and stats.dup_rows == 0
    ):
        assert filt == brute


@settings(
    max_examples=max(3, _N_EXAMPLES * 6 // 10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(l_texts=_corpus, r_texts=_corpus, t=st.sampled_from([0.2, 0.5, 0.8]))
@pytest.mark.parametrize("tok_spec", [
    ("WhitespaceTokzr", (), {}),
    ("QGramsTokzr", (2,), {}),
], ids=["ws-set", "qgram2"])
def test_inner_filtered_equals_brute_on_random_corpora(
    _spark, l_texts, r_texts, t, tok_spec
):
    """Two-table path has no lexicographic pair-key quirk (sides are
    ordered by table, not by concat(len,'_',id)), but filtered ⊆ brute
    is still the only universal contract, for two reference-faithful
    reasons: (a) the tokenizer's dedup-before-lowercase quirk lets
    brute force double-count case-collapsed duplicates
    (test_case_collapse_quirk_parity_inner); (b) the index-prefix tie
    miss — the widow-swap picks the indexing side with no regard to
    per-pair length order, and the un-ceiled 2t/(1+t) index prefix is
    only tight for equal-length partners, so a shorter probing record
    whose witness token sorts late can lose a true pair
    (test_index_prefix_tie_miss_parity_inner). Exactness is therefore
    asserted only against the reference itself."""
    l = _spark.createDataFrame(
        [(i, s) for i, s in enumerate(l_texts)], "id long, val string"
    )
    r = _spark.createDataFrame(
        [(i, s) for i, s in enumerate(r_texts)], "id long, val string"
    )
    name, args, kwargs = tok_spec
    tok = getattr(jj, name)(*args, **kwargs)
    filt = _named_pairs(
        jaccard_inner_join(l, r, "id", "id", "val", "val", tok, t)
    )
    brute = _named_pairs(
        jaccard_inner_join_brute_force(
            l, r, "id", "id", "val", "val", tok, t
        )
    )
    assert filt <= brute
    if _REF:
        ref_filt, ref_brute = ref_oracle.inner_join_pairs(
            l_texts, r_texts, tok_spec, t
        )
        assert filt == ref_filt
        assert brute == ref_brute


def test_decimal_tie_parity_inner(_spark):
    """Golden regression for DECIMAL-vs-double threshold ties, found
    by fuzzing and verified against /root/reference: l_0 = 'b Ba A'
    (len 3) has its rarest-last token 'a' at pos 3; the indexing
    prefix bound is len·2t/(1+t) = 3·0.4/1.2 — exactly 1.0 in
    DuckDB's DECIMAL arithmetic (the reference interpolates t as a
    bare literal), but 1.0000000000000002 as a chained Spark double,
    which would drop the pos-3 token and lose the true pair (0, 2)
    (J = 1/3 >= 0.2). The reference finds all four pairs; so must we
    (via the integer cross-multiplied bounds in operators/jaccard.py).
    """
    l_texts = ["b Ba A", "", "", "a ccc"]
    r_texts = ["", "b", "a a", "", "", "", "", "", "", "", "", "Ba"]
    l = _spark.createDataFrame(
        [(i, s) for i, s in enumerate(l_texts)], "id long, val string"
    )
    r = _spark.createDataFrame(
        [(i, s) for i, s in enumerate(r_texts)], "id long, val string"
    )
    tok = WhitespaceTokzr()
    expected = {(0, 1), (0, 2), (0, 11), (3, 2)}
    filt = _named_pairs(
        jaccard_inner_join(l, r, "id", "id", "val", "val", tok, 0.2)
    )
    brute = _named_pairs(
        jaccard_inner_join_brute_force(
            l, r, "id", "id", "val", "val", tok, 0.2
        )
    )
    assert filt == expected
    assert brute == expected


def test_division_tie_parity(_spark):
    """The division-bearing bound ``s*t/(1+t)`` must be BIT-IDENTICAL
    to DuckDB's evaluation of the oracle's bare-decimal literal for
    every set-size sum s and gate threshold. DuckDB converts each
    exact DECIMAL operand to double BEFORE dividing, so at an exact
    integer tie the quotient can land one ulp high — e.g.
    (83+85)*0.2/1.2 = 28.000000000000004, REJECTING overlap 28 even
    though the exact bound is 28 (db10 5-gram t=0.2: 46 such tie
    pairs) — while 3*2*0.2/1.2 = 1.2/1.2 is exactly 1.0, ACCEPTING a
    tie that a chained Spark double 6*0.2/1.2 would reject. Neither
    exact-rational nor chained-double arithmetic reproduces both;
    operators/jaccard._div_bound emulates the decimal-product ->
    double -> divide pipeline operand-for-operand."""
    duckdb = pytest.importorskip("duckdb")
    from jaccard_join_duckdb_spark.operators.jaccard import _div_bound

    con = duckdb.connect()
    for t in (0.2, 0.3, 0.4, 0.5, 0.8, 0.9, 0.95):
        dd = [
            r[0]
            for r in con.execute(
                f"select (s * {t!r} / (1 + {t!r})) "
                "from range(1, 2001) tbl(s) order by s"
            ).fetchall()
        ]
        df = _spark.range(1, 2001).select(F.col("id").alias("s"))
        sp = [
            r["b"]
            for r in df.select(
                F.col("s"),
                _div_bound(F.col("s").cast("int"), t).alias("b"),
            )
            .orderBy("s")
            .collect()
        ]
        assert sp == dd, f"t={t}"
    con.close()


def test_case_collapse_quirk_parity_inner(_spark):
    """Golden regression for the dedup-before-lowercase tokenizer
    quirk on the inner path, verified against /root/reference
    (py_duckdb tokenizers/__init__.py:39 + jaccard_join.py:407-420):
    r_1 = 'A a a Ba a' tokenizes to raw-distinct {A, a, Ba} → len 3,
    then lowercases at unnest to rows [a, a, ba]. Brute force joins
    l_3 = 'a' against BOTH duplicate 'a' rows: overlap count 2 ≥
    (1+3)·0.5/1.5 = 1.33, so it emits (3,1) even though true
    set-Jaccard is 1/3 < 0.5. The filtered path's length filter
    (1 ≥ 3·0.5 fails, jaccard_join.py:374-375) correctly prunes the
    candidate. The reference produces exactly filtered={(5,1)},
    brute={(3,1),(5,1)} on this corpus; reproducing the asymmetry IS
    parity.
    """
    l_texts = ["", "ab", "ccc", "a", "  ", "Ba b b b A Ba b b"]
    r_texts = ["", "A a a Ba a"]
    l = _spark.createDataFrame(
        [(i, s) for i, s in enumerate(l_texts)], "id long, val string"
    )
    r = _spark.createDataFrame(
        [(i, s) for i, s in enumerate(r_texts)], "id long, val string"
    )
    tok = WhitespaceTokzr()
    filt = _named_pairs(
        jaccard_inner_join(l, r, "id", "id", "val", "val", tok, 0.5)
    )
    brute = _named_pairs(
        jaccard_inner_join_brute_force(
            l, r, "id", "id", "val", "val", tok, 0.5
        )
    )
    assert filt == {(5, 1)}
    assert brute == {(3, 1), (5, 1)}


def test_index_prefix_tie_miss_parity_inner(_spark):
    """Golden regression for the inner path's index-prefix tie miss,
    found by fuzzing and verified against /root/reference: r_11 =
    'b a' (len 2) indexes (r has the widow 'ba' from r_8, l has none,
    so the l_widows > r_widows swap at jaccard_join.py:353 keeps
    (R,S)=(r,l)); its un-ceiled indexing prefix keeps only tokens with
    len-pos+1 >= len*2t/(1+t) = 1.333, i.e. just 'b' (pos 1). The
    probing singletons l_1 = l_5 = 'a' can only witness via 'a' (r-pos
    2, outside the index prefix), so the reference's filtered join
    drops the true tie pairs (1,11) and (5,11) (J = 1/2 = t exactly)
    while keeping (0,11) whose witness 'b' is indexed. Reference
    output: filtered {(0,11)}, brute {(0,11),(1,11),(5,11)} —
    reproducing the miss IS parity. The 2t/(1+t) prefix bound is tight
    only for equal-length partners; for |x| < |y| the required overlap
    t/(1+t)(|x|+|y|) is smaller, needing MORE indexed tokens — a
    genuine recall limitation of the reference's two-table algorithm
    (cf. self path, which orients the short prefix by the pair key and
    stays exact here).
    """
    l_texts = ["b", "a", "", "", "", "a", "", ""]
    r_texts = ["", "", "", "", "", "", "", "", "Ba", "", "", "b a"]
    l = _spark.createDataFrame(
        [(i, s) for i, s in enumerate(l_texts)], "id long, val string"
    )
    r = _spark.createDataFrame(
        [(i, s) for i, s in enumerate(r_texts)], "id long, val string"
    )
    tok = WhitespaceTokzr()
    filt = _named_pairs(
        jaccard_inner_join(l, r, "id", "id", "val", "val", tok, 0.5)
    )
    brute = _named_pairs(
        jaccard_inner_join_brute_force(
            l, r, "id", "id", "val", "val", tok, 0.5
        )
    )
    assert filt == {(0, 11)}
    assert brute == {(0, 11), (1, 11), (5, 11)}


def test_lexicographic_lid_quirk_parity(_spark):
    """Golden regression for the reference's l_id quirk (SURVEY.md
    §4.3.2): record 4 has 10 distinct bigrams, record 9 has 4, so the
    pair key '10_4' sorts before '4_9' lexicographically, the longer
    record becomes the indexing side, and prefix filtering drops the
    true pair (4,9) (Jaccard 3/11 >= 0.2). The reference's DuckDB
    implementation (py_duckdb/similarity_join/join/jaccard_join.py:135,
    :155) misses exactly this pair on this corpus — faithfully
    reproducing the miss IS parity.
    """
    texts = ["", "", "", "", "b b a    ccc a a", "", "", "", "", "b b"]
    df = _spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "id long, val string"
    )
    filt = pairs(jaccard_self_join(df, "id", "val", QGramsTokzr(2), 0.2))
    brute = pairs(
        jaccard_self_join_brute_force(df, "id", "val", QGramsTokzr(2), 0.2)
    )
    assert brute - filt == {(4, 9)}
    assert filt <= brute


@settings(
    max_examples=_N_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=_corpus,
    t=st.sampled_from([0.3, 0.5, 0.8, 1.0]),
)
def test_containment_prefix_filter_lossless(_spark, texts, t):
    """containment_join's pigeonhole prefix filter must be lossless on
    arbitrary corpora: output == the brute all-token-sharing-pairs
    DuckDB computation for every threshold (including t=1.0, where the
    prefix is a single token)."""
    import duckdb

    from jaccard_join_duckdb_spark.operators.dedup import containment_join
    from jaccard_join_duckdb_spark.plans.oracle_ext import containment_sql

    df = _spark.createDataFrame(
        list(enumerate(texts)), "id long, text string"
    )
    got = {
        (r.l_id, r.r_id, r.containment)
        for r in containment_join(df, "id", "text", t).collect()
    }
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from (values "
        + ", ".join(f"({i}, '{x}')" for i, x in enumerate(texts))
        + ") v(id, text)"
    )
    want = {
        tuple(r)
        for r in con.execute(
            containment_sql("documents", "id", "text", t)
        ).fetchall()
    }
    assert got == want


@settings(
    max_examples=_N_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=_corpus,
    t=st.sampled_from([0.2, 0.5, 0.8, 1.0]),
    cap=st.sampled_from([1.0, 0.6]),
)
def test_weighted_prefix_filter_lossless(_spark, texts, t, cap):
    """weighted_jaccard_near_duplicates' weighted-PPJoin prefix filter
    (round 7) must be lossless on arbitrary corpora: output == the
    DuckDB twin, which generates candidates from the UN-prefixed
    all-shared-token inverted index — for every threshold (including
    t=1.0, minimal prefixes) and with/without the df cap (the cap is
    shared deliberate semantics, the prefix is Spark-side-only
    pruning the oracle never does)."""
    import duckdb

    from jaccard_join_duckdb_spark.operators.dedup import (
        weighted_jaccard_near_duplicates,
    )
    from jaccard_join_duckdb_spark.plans.oracle_ext import (
        weighted_jaccard_neardup_sql,
    )

    df = _spark.createDataFrame(
        list(enumerate(texts)), "id long, text string"
    )
    got = {
        (r.l_id, r.r_id, r.wjaccard)
        for r in weighted_jaccard_near_duplicates(
            df, "id", "text", t, max_df_frac=cap
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from (values "
        + ", ".join(f"({i}, '{x}')" for i, x in enumerate(texts))
        + ") v(id, text)"
    )
    want = {
        tuple(r)
        for r in con.execute(
            weighted_jaccard_neardup_sql(
                "documents", "id", "text", t, max_df_frac=cap
            )
        ).fetchall()
    }
    assert got == want


@settings(
    max_examples=_N_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    q_texts=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=4).map(" ".join),
        min_size=1,
        max_size=4,
    ),
    c_texts=_corpus,
    t=st.sampled_from([0.4, 0.7, 1.0]),
)
def test_containment_match_prefix_filter_lossless(_spark, q_texts, c_texts, t):
    """Two-table (decontamination) variant of the containment fuzz:
    the corpus-df-ordered query-side prefix must stay lossless — in
    particular for query tokens the corpus never contains (df 0,
    sorted first in the prefix)."""
    import duckdb

    from jaccard_join_duckdb_spark.operators.dedup import containment_match
    from jaccard_join_duckdb_spark.plans.oracle_ext import containment_match_sql

    qdf = _spark.createDataFrame(
        list(enumerate(q_texts)), "id long, text string"
    )
    cdf = _spark.createDataFrame(
        [(100 + i, x) for i, x in enumerate(c_texts)], "id long, text string"
    )
    got = {
        (r.q_id, r.c_id, r.containment)
        for r in containment_match(qdf, cdf, "id", "text", t).collect()
    }
    con = duckdb.connect()
    con.execute(
        "create view qt as select * from (values "
        + ", ".join(f"({i}, '{x}')" for i, x in enumerate(q_texts))
        + ") v(id, text)"
    )
    con.execute(
        "create view ct as select * from (values "
        + ", ".join(f"({100 + i}, '{x}')" for i, x in enumerate(c_texts))
        + ") v(id, text)"
    )
    want = {
        tuple(r)
        for r in con.execute(
            containment_match_sql("qt", "ct", "id", "text", t)
        ).fetchall()
    }
    assert got == want


@settings(
    max_examples=_N_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    q_texts=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=6).map(" ".join),
        min_size=1,
        max_size=4,
    ),
    c_texts=_corpus,
    n=st.sampled_from([2, 3]),
)
def test_ngram_decontaminate_matches_oracle_on_random_corpora(
    _spark, q_texts, c_texts, n
):
    """The xxhash64-compressed shingle pipeline must agree with the
    raw-string DuckDB twin on arbitrary weird corpora — blank runs,
    case variants, and docs shorter than the window (which must emit
    nothing on either side)."""
    import duckdb

    from jaccard_join_duckdb_spark.operators.dedup import ngram_decontaminate
    from jaccard_join_duckdb_spark.plans.oracle_ext import (
        ngram_decontaminate_sql,
    )

    qdf = _spark.createDataFrame(
        list(enumerate(q_texts)), "id long, text string"
    )
    cdf = _spark.createDataFrame(
        [(100 + i, x) for i, x in enumerate(c_texts)], "id long, text string"
    )
    got = {
        tuple(r)
        for r in ngram_decontaminate(qdf, cdf, "id", "text", n=n).collect()
    }
    con = duckdb.connect()
    con.execute(
        "create view qt as select * from (values "
        + ", ".join(f"({i}, '{x}')" for i, x in enumerate(q_texts))
        + ") v(id, text)"
    )
    con.execute(
        "create view ct as select * from (values "
        + ", ".join(f"({100 + i}, '{x}')" for i, x in enumerate(c_texts))
        + ") v(id, text)"
    )
    want = {
        tuple(r)
        for r in con.execute(
            ngram_decontaminate_sql("qt", "ct", "id", "text", n)
        ).fetchall()
    }
    assert got == want


@settings(
    max_examples=_N_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b B", "", " ", "x\ty", "Shared Line"]),
            min_size=0,
            max_size=5,
        ).map("\n".join),
        min_size=2,
        max_size=8,
    ),
    frac=st.sampled_from([0.3, 0.6, 1.0]),
)
def test_remove_boilerplate_matches_oracle_on_random_corpora(
    _spark, texts, frac
):
    """Ordered reassembly, blank-line preservation, and the distinct-
    doc threshold must agree with the DuckDB twin on arbitrary
    newline-bearing corpora (empty lines, whitespace-only lines,
    tab/case normalization collisions, trailing newlines)."""
    import duckdb

    from jaccard_join_duckdb_spark.functions.text import (
        remove_boilerplate_lines,
    )
    from jaccard_join_duckdb_spark.plans.oracle_ext import (
        remove_boilerplate_sql,
    )

    df = _spark.createDataFrame(
        list(enumerate(texts)), "id long, text string"
    )
    got = sorted(map(tuple, remove_boilerplate_lines(
        df, "id", "text", max_doc_frac=frac, min_docs=2
    ).collect()))
    con = duckdb.connect()
    vals = ", ".join(
        "({}, '{}')".format(i, x.replace("\n", "' || chr(10) || '"))
        for i, x in enumerate(texts)
    )
    con.execute(f"create view t as select * from (values {vals}) v(id, text)")
    want = sorted(map(tuple, con.execute(
        remove_boilerplate_sql("t", "id", "text", max_doc_frac=frac, min_docs=2)
    ).fetchall()))
    assert got == want


@settings(
    max_examples=_N_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=_corpus,
    n=st.sampled_from([2, 3]),
    smoothing=st.sampled_from(["add_k", "stupid_backoff"]),
)
def test_lm_score_matches_oracle_on_random_corpora(_spark, texts, n, smoothing):
    """The add-k LM scorer must agree with the DuckDB twin on
    arbitrary weird corpora — blank docs, docs shorter than the
    order (NULL score on both sides), case and multi-space variants.
    lm_logp is compared to the rounding grid (<= 1e-6): engines may
    differ by one ulp of libm ln before the 6-dp round."""
    import duckdb

    from jaccard_join_duckdb_spark.functions.text import lm_score
    from jaccard_join_duckdb_spark.plans.oracle_ext import lm_score_sql

    if smoothing == "stupid_backoff":
        n = 2  # backoff is bigram-only
    df = _spark.createDataFrame(
        list(enumerate(texts)), "id long, text string"
    )
    got = {
        r[0]: (r[1], r[2])
        for r in lm_score(df, "id", "text", n=n, smoothing=smoothing).collect()
    }
    con = duckdb.connect()
    con.execute(
        "create view t as select * from (values "
        + ", ".join(f"({i}, '{x}')" for i, x in enumerate(texts))
        + ") v(id, text)"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            lm_score_sql("t", "id", "text", n=n, smoothing=smoothing)
        ).fetchall()
    }
    assert set(got) == set(want)
    for i in got:
        assert got[i][0] == want[i][0], (i, got[i], want[i])
        if got[i][1] is None or want[i][1] is None:
            assert got[i][1] == want[i][1], (i, got[i], want[i])
        else:
            assert abs(got[i][1] - want[i][1]) <= 1e-6, (i, got[i], want[i])


def _near_dup_texts(seed, n, length, alphabet, sep=""):
    """``n`` random documents of ``length`` symbols from ``alphabet``,
    each followed by a copy with up to ``length // 10`` symbols
    replaced: a seeded corpus with pairs across the whole Jaccard
    range."""
    import random

    rng = random.Random(seed)
    texts = []
    for _ in range(n):
        doc = [rng.choice(alphabet) for _ in range(length)]
        dup = list(doc)
        for _ in range(rng.randint(0, length // 10)):
            dup[rng.randrange(length)] = rng.choice(alphabet)
        texts += [sep.join(doc), sep.join(dup)]
    return texts


def _dedup_vs_oracle(spark, texts, run, oracle_sql):
    """``run(df)``'s ``(l_id, r_id, jaccard)`` rows against the DuckDB
    twin ``oracle_sql(table, key, val)`` over the same texts."""
    import duckdb
    import pyarrow as pa

    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = {tuple(r) for r in run(df).collect()}
    con = duckdb.connect()
    con.register("t", pa.table({"id": list(range(len(texts))), "text": texts}))
    want = set(con.execute(oracle_sql("t", "id", "text")).fetchall())
    assert got == want
    return got


@pytest.mark.parametrize("q, alphabet, n, length, vocab_range", [
    (2, "abcdefghijkl", 20, 40, (1, 512)),        # bitset verify
    (3, "abcdefghij", 30, 120, (513, 4096)),      # wide: tid arrays
    (4, "abcdefghijkl", 40, 160, (4097, None)),   # generic prefix path
], ids=["bitset", "wide", "generic"])
def test_ngram_near_duplicates_match_oracle(
    _spark, q, alphabet, n, length, vocab_range
):
    """ngram_jaccard_near_duplicates equals its DuckDB twin (all
    token-sharing pairs, exact Jaccard) on seeded near-duplicate
    corpora whose q-gram vocabulary puts each run in one verify
    branch: bitset (<= 512 grams), tid arrays (<= 4096) and the
    generic prefix candidates with token-array verify (> 4096)."""
    from jaccard_join_duckdb_spark.operators.dedup import (
        ngram_jaccard_near_duplicates,
    )
    from jaccard_join_duckdb_spark.plans.oracle_ext import (
        ngram_jaccard_neardup_sql,
    )

    texts = _near_dup_texts(q * 100 + n, n, length, alphabet)
    pad = "#" * (q - 1)
    vocab = {
        (pad + x + pad)[i:i + q]
        for x in texts
        for i in range(len(x) + q - 1)
    }
    lo, hi = vocab_range
    assert lo <= len(vocab) and (hi is None or len(vocab) <= hi)
    got = _dedup_vs_oracle(
        _spark, texts,
        lambda df: ngram_jaccard_near_duplicates(df, "id", "text", 0.5, q=q),
        lambda *tab: ngram_jaccard_neardup_sql(*tab, 0.5, q=q),
    )
    assert got


@pytest.mark.parametrize("n_words, vocab_range", [
    (60, (1, 512)),        # fused: one bitset + minima aggregation
    (3000, (513, None)),   # generic band signatures, token-array verify
], ids=["fused", "generic"])
def test_minhash_near_duplicates_match_oracle(_spark, n_words, vocab_range):
    """minhash_near_duplicates equals its DuckDB twin (same hash
    permutations, band signatures and exact Jaccard) on seeded
    near-duplicate corpora on both sides of the fused-path vocabulary
    cap."""
    from jaccard_join_duckdb_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from jaccard_join_duckdb_spark.plans.oracle_ext import minhash_neardup_sql

    words = [f"w{i}" for i in range(n_words)]
    texts = _near_dup_texts(n_words, 40, 30, words, sep=" ")
    lo, hi = vocab_range
    vocab = {w for x in texts for w in x.split()}
    assert lo <= len(vocab) and (hi is None or len(vocab) <= hi)
    got = _dedup_vs_oracle(
        _spark, texts,
        lambda df: minhash_near_duplicates(df, "id", "text", 0.5),
        lambda *tab: minhash_neardup_sql(*tab, 0.5),
    )
    assert got
