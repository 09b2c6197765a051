"""Jaccard join correctness: golden outputs + differential testing
(filtered == brute force), the reference's own test discipline
(SURVEY.md §5, notebook.ipynb cell 5)."""

import random

import pytest
from pyspark.sql import functions as F

from jaccard_join_duckdb_spark import (
    QGramsTokzr,
    WhitespaceTokzr,
    jaccard_inner_join,
    jaccard_inner_join_brute_force,
    jaccard_join,
    jaccard_self_join,
    jaccard_self_join_brute_force,
)
from jaccard_join_duckdb_spark.session import duckdb_connect
from tests.conftest import pairs


def test_purchases_golden(purchases):
    """exam.ipynb cells 11-12: purchases, ws, set, t=0.5 → {2,6},{3,5};
    filtered path emits (3,5),(6,2), brute (2,6),(3,5)."""
    ws = WhitespaceTokzr()
    filt = jaccard_self_join(purchases, "id", "purchases", ws, 0.5)
    assert sorted(tuple(r) for r in filt.collect()) == [(3, 5), (6, 2)]
    brute = jaccard_self_join_brute_force(purchases, "id", "purchases", ws, 0.5)
    assert sorted(tuple(r) for r in brute.collect()) == [(2, 6), (3, 5)]


def test_output_column_names(purchases):
    ws = WhitespaceTokzr()
    out = jaccard_self_join(purchases, "id", "purchases", ws, 0.5, "a_", "b_")
    assert out.columns == ["a_id", "b_id"]


@pytest.mark.parametrize("t", [0.3, 0.5, 0.8])
def test_scored_self_join(purchases, t):
    """with_score extension: the filtered path's ``sfx+pfxOverlap-1``
    overlap is EXACT (see operators.jaccard._jaccard_score), so the
    score must bit-equal brute force's ``count(*)``-derived one on
    every common pair, and every score must sit in [t, 1]."""
    ws = WhitespaceTokzr()
    filt = jaccard_self_join(
        purchases, "id", "purchases", ws, t, with_score=True
    )
    assert filt.columns == ["l_id", "r_id", "jaccard"]
    fs = {
        tuple(sorted((r.l_id, r.r_id), key=str)): r.jaccard
        for r in filt.collect()
    }
    brute = jaccard_self_join_brute_force(
        purchases, "id", "purchases", ws, t, with_score=True
    )
    bs = {
        tuple(sorted((r.l_id, r.r_id), key=str)): r.jaccard
        for r in brute.collect()
    }
    assert fs == bs
    assert all(t <= v <= 1.0 for v in fs.values())


def test_scored_inner_join(purchases, interests):
    ws = WhitespaceTokzr()
    filt = jaccard_inner_join(
        purchases, interests, "id", "id", "purchases", "interests",
        ws, 0.2, with_score=True,
    )
    assert set(filt.columns) == {"l_id", "r_id", "jaccard"}
    brute = jaccard_inner_join_brute_force(
        purchases, interests, "id", "id", "purchases", "interests",
        ws, 0.2, with_score=True,
    )
    key = lambda r: (r.l_id, r.r_id)
    fs = {key(r): r.jaccard for r in filt.collect()}
    bs = {key(r): r.jaccard for r in brute.collect()}
    # filtered ⊆ brute with identical scores on the intersection
    assert set(fs) <= set(bs)
    assert all(bs[k] == v for k, v in fs.items())


@pytest.mark.parametrize("t", [0.2, 0.3, 0.5, 0.7, 0.8])
@pytest.mark.parametrize("mk_tok", [
    lambda: WhitespaceTokzr(),
    lambda: WhitespaceTokzr(return_set=False),
    lambda: QGramsTokzr(3),
])
def test_self_differential_purchases(purchases, t, mk_tok):
    tok = mk_tok()
    filt = jaccard_self_join(purchases, "id", "purchases", tok, t)
    brute = jaccard_self_join_brute_force(purchases, "id", "purchases", tok, t)
    assert pairs(filt) == pairs(brute)


@pytest.mark.parametrize("t", [0.3, 0.5, 0.8])
def test_self_interests_reference_parity(interests, t):
    """interests × QGrams(2) crosses the 1-digit/2-digit token-count
    boundary, triggering the reference's lexicographic l_id quirk
    (SURVEY.md §4.3.2): its filtered path loses recall vs brute
    force. Parity means matching the reference's filtered output
    exactly — not "fixing" it — so compare against the reference
    pipeline SQL run in DuckDB, and only assert filtered ⊆ brute."""
    from jaccard_join_duckdb_spark.plans.ref_sql import self_filtered_sql
    from tests.conftest import TESTS_DIR
    import os

    tok = QGramsTokzr(2)
    filt = jaccard_self_join(interests, "id", "interests", tok, t)
    brute = jaccard_self_join_brute_force(interests, "id", "interests", tok, t)
    assert pairs(filt) <= pairs(brute)

    csv = os.path.join(TESTS_DIR, "data", "interests.csv")
    ref = duckdb_connect().execute(
        self_filtered_sql(f"'{csv}'", "id", "interests", tok, t)
    ).fetchall()
    assert pairs(filt) == {tuple(sorted((a, b), key=str)) for a, b in ref}


@pytest.mark.parametrize("t", [0.85, 0.95])
def test_self_differential_documents(documents, t):
    """sf0.001 documents (500 rows, dense token space)."""
    ws = WhitespaceTokzr()
    filt = jaccard_self_join(documents, "doc_id", "text", ws, t)
    brute = jaccard_self_join_brute_force(documents, "doc_id", "text", ws, t)
    assert pairs(filt) == pairs(brute)


@pytest.mark.parametrize("t", [0.5, 0.8])
def test_inner_differential_purchases_interests(purchases, interests, t):
    tok = QGramsTokzr(3)
    filt = jaccard_inner_join(
        purchases, interests, "id", "id", "purchases", "interests", tok, t
    )
    brute = jaccard_inner_join_brute_force(
        purchases, interests, "id", "id", "purchases", "interests", tok, t
    )
    assert pairs(filt) == pairs(brute)


@pytest.mark.parametrize("t", [0.8, 0.9])
def test_inner_differential_documents_split(documents, t):
    """Two-table path on an even/odd doc_id split (side-swap code
    path exercised with widow-bearing sides)."""
    ws = WhitespaceTokzr()
    l = documents.filter(F.col("doc_id") % 2 == 0)
    r = documents.filter(F.col("doc_id") % 2 == 1)
    filt = jaccard_inner_join(l, r, "doc_id", "doc_id", "text", "text", ws, t)
    brute = jaccard_inner_join_brute_force(
        l, r, "doc_id", "doc_id", "text", "text", ws, t
    )
    # The reference's un-ceiled prefix bounds can drop boundary pairs
    # (SURVEY.md §4.3.1); exact equality with the reference pipeline
    # itself is asserted in test_ref_parity.py.
    assert pairs(filt) <= pairs(brute)
    missed = pairs(brute) - pairs(filt)
    assert len(missed) <= max(2, len(pairs(brute)) // 100)


def test_dispatch_self_vs_inner(purchases):
    ws = WhitespaceTokzr()
    self_out = jaccard_join(purchases, None, "id", None, "purchases", None, ws, 0.5)
    assert pairs(self_out) == {(3, 5), (2, 6)}
    same = jaccard_join(purchases, purchases, "id", "id", "purchases", "purchases", ws, 0.5)
    assert pairs(same) == {(3, 5), (2, 6)}


def test_inner_column_name_quirk(purchases, interests):
    """Reference matches() names output columns R-prefix+l_key /
    S-prefix+r_key — when sides swap, names swap prefixes
    (jaccard_join.py:391)."""
    ws = WhitespaceTokzr()
    out = jaccard_inner_join(
        purchases, interests, "id", "id", "purchases", "interests", ws, 0.9
    )
    assert set(out.columns) == {"l_id", "r_id"}


def test_fast_path_gating_on_case_duplicates(spark):
    """The Delimiter case-dedup quirk ("John john" → two identical
    lowercase rows) must keep the generic path by default; QGrams set
    mode guarantees distinct rows structurally."""
    assert not WhitespaceTokzr().rows_distinct
    assert QGramsTokzr(3).rows_distinct
    assert not QGramsTokzr(3, return_set=False).rows_distinct


def test_scored_rejects_bag_mode(purchases):
    """Bag-mode overlap counts duplicate token matches — not a Jaccard
    numerator (it can even exceed llen+rlen, which would divide by
    zero under ANSI) — so with_score refuses it up front."""
    tok = WhitespaceTokzr(return_set=False)
    for fn in (jaccard_self_join, jaccard_self_join_brute_force):
        with pytest.raises(ValueError, match="set semantics"):
            fn(purchases, "id", "purchases", tok, 0.5, with_score=True)


def test_scored_case_collapse_null_score(spark):
    """The dedup-before-lowercase quirk can drive the row-counted
    overlap up to llen+rlen; the score column goes NULL there (both
    engines — the oracle SQL uses nullif) instead of raising
    DIVIDE_BY_ZERO."""
    df = spark.createDataFrame(
        [(1, "A a"), (2, "a A")], "id long, val string"
    )
    rows = jaccard_self_join_brute_force(
        df, "id", "val", WhitespaceTokzr(), 0.5, with_score=True
    ).collect()
    assert [(r.l_id, r.r_id, r.jaccard) for r in rows] == [(1, 2, None)]


def test_empty_and_degenerate_corpora(spark):
    """Edge inputs must produce empty results, not errors: empty
    table, all-whitespace texts (no tokens), single document."""
    from jaccard_join_duckdb_spark import (
        WhitespaceTokzr,
        jaccard_self_join,
        jaccard_self_join_brute_force,
    )

    tok = WhitespaceTokzr()
    empty = spark.createDataFrame([], "id long, val string")
    assert jaccard_self_join(empty, "id", "val", tok, 0.5).count() == 0
    assert jaccard_self_join_brute_force(empty, "id", "val", tok, 0.5).count() == 0

    blank = spark.createDataFrame([(1, "   "), (2, "")], "id long, val string")
    assert jaccard_self_join(blank, "id", "val", tok, 0.0).count() == 0

    solo = spark.createDataFrame([(1, "only doc here")], "id long, val string")
    assert jaccard_self_join(solo, "id", "val", tok, 0.5).count() == 0


# Doc-frequency cases at t=0.5: the tokenizer class, the token frames
# (one for a self join, two for an inner join) and the hand-computed
# statistics. pos ranks by (df, token); the indexing prefix is
# len-pos+1 >= 2·len/3 (pos <= 2 at len 3, pos <= 1 at len 2).
_GATE_CASES = {
    # d1 "a b c", d2 "b c", d3 "c a" → df a:2 b:2 c:3.
    "self": (WhitespaceTokzr, [["a b c", "b c", "c a"]],
             dict(vocab=3, n_tok=7, max_df=3, dup_rows=0)),
    # d1 "A a b" tokenizes to rows a, a, b (the case-collapsed
    # duplicate), d2 "a b" → df b:2 a:3; one duplicate row.
    "self-dup": (WhitespaceTokzr, [["A a b", "a b"]],
                 dict(vocab=2, n_tok=5, max_df=3, dup_rows=1)),
    # left d1 "a b c", d2 "b d"; right d3 "a b", d4 "c e f" → cross df
    # a:1 c:1 b:2, widows d e f; the largest per-side df is left b:2.
    # pos: d1 a c b, d2 b d, d3 a b, d4 c e f. Indexing: d1 a c, d2 b |
    # d3 a, d4 c e — e is a widow, so widows (0, 1).
    "inner": (WhitespaceTokzr, [["a b c", "b d"], ["a b", "c e f"]],
              dict(vocab=6, n_tok=10, max_df=2, dup_rows=0,
                   widows=(0, 1))),
    # Padded bigrams. left d1 "ab" → #a ab b#, d2 "ac" → #a ac c#;
    # right d3 "ab" → #a ab b#, d4 "bd" → #b bd d# → cross df ab:1 b#:1
    # #a:2, widows ac c# #b bd d#. pos (len 3): d1 ab b# #a, d2 #a ac
    # c#, d3 ab b# #a, d4 #b bd d#. Indexing, pos <= 2: d1 ab b#, d2 #a
    # ac | d3 ab b#, d4 #b bd — widows (1, 2).
    "inner-qgram": (lambda distinct_rows: QGramsTokzr(
                        2, distinct_rows=distinct_rows),
                    [["ab", "ac"], ["ab", "bd"]],
                    dict(vocab=8, n_tok=12, max_df=2, dup_rows=0,
                         widows=(1, 2))),
}


@pytest.mark.parametrize("distinct", [False, True])
@pytest.mark.parametrize("case", list(_GATE_CASES))
def test_gate_stats_formula(spark, case, distinct):
    """Pin the statistics that pick the plan against hand-computed
    values: :func:`_doc_freq`'s vocabulary, token rows, largest
    per-side df and ``dup_rows``, the exact duplicate (doc, token) row
    count that picks the array or three-way verify, and the inner
    join's per-side widow counts (side swap). ``distinct`` is the
    tokenizer's ``distinct_rows`` promise: kept, ``dup_rows`` is 0
    without being counted (even on the duplicate case) and the
    vocabulary takes the bitset path; withheld, the array path. The
    widow counts must be equal on both paths."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    mk_tok, sides, want = _GATE_CASES[case]
    tok = mk_tok(distinct_rows=distinct)
    frames, start = [], 1
    for docs in sides:
        df = spark.createDataFrame(
            list(enumerate(docs, start)), "id long, val string"
        )
        frames.append(tok.tokenize(df, "id", "val"))
        start += len(docs)
    want = dict(want)
    widows = want.pop("widows", None)
    if len(frames) == 1:
        freq = J._doc_freq(tok, None, frames[0])
        docs = J._docs(frames[0], freq.dim, freq.n_words, None)
    else:
        tagged, _ = J._tag_sides(*frames)
        doc = ("side", "id")
        freq = J._doc_freq(tok, None, tagged, doc)
        docs = J._docs(tagged, freq.dim, freq.n_words, None, freq.side_dfs,
                       doc)
        assert J._widow_counts(docs, 0.5) == widows
    assert bool(freq.n_words) == distinct
    tkdf = J._token_rows(docs)
    assert dict(tkdf.dtypes)["token"] == "int"  # the dense tid
    got = {k: getattr(freq, k) for k in want}
    freq.cache.unpersist()
    if distinct:
        want = {**want, "dup_rows": 0}
    assert got == want


@pytest.mark.parametrize("mode", ["self", "inner"])
def test_join_build_spark_actions(spark, mode):
    """Building an array-path join frame runs one Spark action per
    statistic it reads: a self join only the doc-frequency aggregate,
    an inner join that and its widow counts. Every other stage stays
    lazy until the caller's own action."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def n_actions() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return store.executionsCount()

    def frame(seed):
        return spark.createDataFrame(
            list(enumerate(_distinct_corpus(40, seed))), "id long, val string"
        )

    tok = WhitespaceTokzr()  # no distinct-rows promise: the array path
    before = n_actions()
    if mode == "self":
        out = J.jaccard_self_join(frame(11), "id", "val", tok, 0.4)
    else:
        out = J.jaccard_inner_join(frame(11), frame(17), "id", "id", "val",
                                   "val", tok, 0.4)
    assert n_actions() - before == (1 if mode == "self" else 2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" in plan
    spark.catalog.clearCache()


_WORDS = ["ha", "be", "ce", "dx", "ee", "fo", "gg", "hi"]


def _distinct_corpus(n_docs, seed):
    """Seeded documents of six shared lowercase words plus two words
    private to the document: no duplicate (id, token) rows, although
    WhitespaceTokzr cannot promise it."""
    rng = random.Random(seed)
    return [
        " ".join(rng.sample(_WORDS, 6)) + f" p{seed}x{i} q{seed}x{i}"
        for i in range(n_docs)
    ]


def _dup_corpus(n_docs, seed):
    """Twin of _distinct_corpus whose private word is written twice, in
    two cases: the Delimiter dedup-before-lowercase quirk (set mode)
    and bag mode both emit a duplicate (id, token) row for it."""
    rng = random.Random(seed)
    return [
        " ".join(rng.sample(_WORDS, 6)) + f" p{seed}x{i} P{seed}X{i}"
        for i in range(n_docs)
    ]


# Verify-strategy cases: (join, tokenizer, left corpus, right corpus,
# plan marker of the strategy); None as marker means the three-way
# join, whose plan carries neither the bitset nor the array marker.
_VERIFY_CASES = {
    "self-bitset": ("self", lambda: WhitespaceTokzr(distinct_rows=True),
                    "distinct", None, "bit_count"),
    # cannot promise distinct rows: _doc_freq counts zero duplicates
    "self-array": ("self", WhitespaceTokzr, "distinct", None,
                   "array_intersect"),
    "self-three-way-quirk": ("self", WhitespaceTokzr, "dup", None, None),
    "self-three-way-bag": ("self", lambda: WhitespaceTokzr(return_set=False),
                           "dup", None, None),
    "inner-bitset": ("inner", lambda: WhitespaceTokzr(distinct_rows=True),
                     "distinct", "distinct", "bit_count"),
    "inner-array": ("inner", WhitespaceTokzr, "distinct", "distinct",
                    "array_intersect"),
    # one duplicate-carrying side vetoes the array verify for the join
    "inner-three-way-one-side": ("inner", WhitespaceTokzr, "dup",
                                 "distinct", None),
    "inner-three-way-bag": ("inner",
                            lambda: WhitespaceTokzr(return_set=False),
                            "dup", "dup", None),
}
_VERIFY_MARKERS = ("bit_count", "array_intersect")


@pytest.mark.parametrize("t", [0.2, 0.4, 0.6])
@pytest.mark.parametrize(
    "case", [*_VERIFY_CASES, *(f"{c}-buckets" for c in _VERIFY_CASES)]
)
def test_verify_strategy_equals_brute_force(spark, monkeypatch, case, t):
    """Each verify strategy (bitset popcount, array intersect, three-way
    join) in each join equals brute force, and the data picks the
    strategy: the vocabulary size picks the bitset, the measured
    duplicate-row count picks array or three-way.

    A ``-buckets`` case caps the one-window tid rank at 8 tokens, so
    its join runs on the multi-bucket tids of ``_tid_rank``. The bitset
    needs dense tids, so the bitset cases take the array verify there.

    The reference's prefix filter is complete only for set overlaps
    between a shorter-or-equal indexing-side document and a probing
    one, so every document has eight token rows (no lexicographic l_id
    quirk, SURVEY.md §4.3.2; no longer indexing side) and duplicate
    rows sit on a word no other document has. Parity with the
    reference where duplicates match across documents is pinned by
    test_property_fuzz.py's ws-bag and delim arms."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    base = case.removesuffix("-buckets")
    mode, mk_tok, left, right, marker = _VERIFY_CASES[base]
    if base != case:
        monkeypatch.setattr(J, "_RANK_ROWS", 8)
        if marker == "bit_count":
            marker = "array_intersect"
    corpus = {"distinct": _distinct_corpus, "dup": _dup_corpus}

    def frame(kind, seed):
        return spark.createDataFrame(
            list(enumerate(corpus[kind](40, seed))), "id long, val string"
        )

    tok = mk_tok()
    if mode == "self":
        df = frame(left, 11)
        filt = jaccard_self_join(df, "id", "val", tok, t)
        brute = jaccard_self_join_brute_force(df, "id", "val", tok, t)
    else:
        args = (frame(left, 11), frame(right, 17), "id", "id", "val", "val",
                tok, t)
        filt = jaccard_inner_join(*args)
        brute = jaccard_inner_join_brute_force(*args)
    plan = filt._jdf.queryExecution().optimizedPlan().toString()
    assert [m for m in _VERIFY_MARKERS if m in plan] == (
        [marker] if marker else []
    )
    assert pairs(filt) == pairs(brute)
    assert pairs(filt)  # non-degenerate: some pair passes
    # each pair once: the bitset path emits pairs straight from the
    # candidate join, with no pair aggregate to collapse duplicates (an
    # inner join's two frames share ids, so its pairs are ordered)
    rows = filt.collect()
    once = {tuple(r[:2]) for r in rows} if mode == "inner" else pairs(filt)
    assert len(rows) == len(once)


@pytest.mark.parametrize("case", ["self-array", "inner-three-way-one-side"])
def test_verify_attach_broadcast_by_token_rows(spark, monkeypatch, case):
    """The verify hints both attach tables for broadcast while the
    join's token rows fit ``_MAX_BROADCAST_VERIFY_TOKENS``, and leaves
    them to AQE above it (the cap patched to 0); the pairs agree."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    mode, mk_tok, left, right, _ = _VERIFY_CASES[case]
    corpus = {"distinct": _distinct_corpus, "dup": _dup_corpus}

    def frame(kind, seed):
        return spark.createDataFrame(
            list(enumerate(corpus[kind](40, seed))), "id long, val string"
        )

    def run():
        if mode == "self":
            out = jaccard_self_join(frame(left, 11), "id", "val", mk_tok(),
                                    0.4)
        else:
            out = jaccard_inner_join(frame(left, 11), frame(right, 17), "id",
                                     "id", "val", "val", mk_tok(), 0.4)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("strategy=broadcast"), pairs(out)

    hinted, hinted_pairs = run()
    monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_TOKENS", 0)
    unhinted, unhinted_pairs = run()
    assert hinted - unhinted == 2
    assert hinted_pairs == unhinted_pairs and hinted_pairs


@pytest.mark.parametrize("mode", ["self", "inner"])
def test_tid_rank_buckets(spark, monkeypatch, mode):
    """Above ``_RANK_ROWS`` tokens the tid rank runs per bucket of
    ``(df, token)`` order. Capped at 8 tokens here, the ~90-token
    vocabulary splits into many buckets, and its tids must be unique,
    in ``(df, token)`` order and identical across two builds. The tkdf
    then carries them as a bigint ``token``, its ``pos`` following."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    monkeypatch.setattr(J, "_RANK_ROWS", 8)
    tok = WhitespaceTokzr()
    frames = [
        tok.tokenize(spark.createDataFrame(
            list(enumerate(_distinct_corpus(40, seed))), "id long, val string"
        ), "id", "val")
        for seed in ((11,) if mode == "self" else (11, 17))
    ]
    if mode == "self":
        tokens, doc = frames[0], ("id",)
    else:
        tokens, _ = J._tag_sides(*frames)
        doc = ("side", "id")

    def build():
        freq = J._doc_freq(tok, None, tokens, doc)
        rows = freq.dim.select("df", "token", "tid").collect()
        return freq, sorted(rows, key=lambda r: (r.df, r.token))

    freq, ranked = build()
    tids = [r.tid for r in ranked]
    assert len(tids) == freq.vocab > 8 and not freq.n_words
    assert tids == sorted(set(tids))  # unique and in (df, token) order
    assert len({tid >> 32 for tid in tids}) > 4  # many buckets
    assert build()[1] == ranked
    tkdf = J._token_rows(J._docs(tokens, freq.dim, 0, None, freq.side_dfs,
                                 doc))
    assert dict(tkdf.dtypes)["token"] == "bigint"
    by_doc = {}
    for r in tkdf.collect():
        by_doc.setdefault(tuple(r[c] for c in doc), []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.pos)
        assert [r.pos for r in rows] == list(range(1, len(rows) + 1))
        assert [r.token for r in rows] == sorted(r.token for r in rows)


@pytest.mark.parametrize(
    "case", ["bag", "buckets", "hot", "mixed-keys", "bitset"]
)
def test_docs_pos_parity(spark, monkeypatch, case):
    """The token rows exploded from the per-document ``docs`` frame,
    ``(doc, len, token, pos)``, equal an independent ``row_number()
    OVER (PARTITION BY doc ORDER BY df, token)`` over tokens ⋈ the
    ranked dim, ``token`` being the tid: with duplicate ``(id, token)``
    rows (bag mode, the three-way verify's input), multi-bucket bigint
    tids, the hot-token split, the inner join's mixed-key ``id0``/``id1``
    frame and the bitset path, whose words must also equal
    :func:`_doc_bitsets` of the same tids."""
    import jaccard_join_duckdb_spark.operators.jaccard as J
    from pyspark.sql.window import Window

    if case == "buckets":
        monkeypatch.setattr(J, "_RANK_ROWS", 8)
    tok = {
        "bag": WhitespaceTokzr(return_set=False),
        "bitset": WhitespaceTokzr(distinct_rows=True),
    }.get(case, WhitespaceTokzr())

    def frame(corpus, seed):
        return spark.createDataFrame(
            list(enumerate(corpus(30, seed))), "id long, val string"
        )

    if case == "mixed-keys":
        right = spark.createDataFrame(
            [(f"r{i}", d) for i, d in enumerate(_distinct_corpus(30, 17))],
            "id string, val string",
        )
        tokens, keys = J._tag_sides(
            tok.tokenize(frame(_dup_corpus, 11), "id", "val"),
            tok.tokenize(right, "id", "val"),
        )
        doc = ("side", *keys)
        assert keys == ("id0", "id1")
    else:
        corpus = _dup_corpus if case == "bag" else _distinct_corpus
        tokens, doc = tok.tokenize(frame(corpus, 11), "id", "val"), ("id",)
    freq = J._doc_freq(tok, None, tokens, doc)
    hot = 3 if case == "hot" else None
    docs = J._docs(tokens, freq.dim, freq.n_words, hot, freq.side_dfs, doc)
    got = J._token_rows(docs).select(*doc, "len", "token", "pos")

    ranked = tokens.join(freq.dim.select("token", "df", "tid"), "token")
    want = ranked.select(
        *doc, "len", F.col("tid").alias("token"),
        F.row_number().over(
            Window.partitionBy(*doc).orderBy("df", "token")
        ).alias("pos"),
    )
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, want.collect()), key=str
    )
    plan = docs._jdf.queryExecution().optimizedPlan().toString()
    assert ("LeftAnti" in plan) == (case == "hot")
    assert dict(got.dtypes)["token"] == (
        "bigint" if case == "buckets" else "int"
    )
    if case == "bag":
        assert freq.dup_rows > 0
    if case == "bitset":
        words = [f"b{i}" for i in range(freq.n_words)]
        assert words
        bits = J._doc_bitsets(ranked, freq.n_words).select("id", *words)
        assert sorted(map(tuple, docs.select("id", *words).collect())) == (
            sorted(map(tuple, bits.collect()))
        )
    freq.cache.unpersist()


@pytest.mark.parametrize("hot", [None, 3])
@pytest.mark.parametrize("with_pair_key", [False, True])
def test_tokens_with_doc_freq_output(spark, with_pair_key, hot):
    """The public tkdf build keeps its string ``token`` while the joins
    carry integer tids: ``(id, len, token, df, pos[, l_id])`` with the
    types and rows of the reference's tkdf (jaccard_join.py:127-137),
    ``pos`` ranking ``(df, token)`` — with and without the hot split."""
    from jaccard_join_duckdb_spark import tokens_with_doc_freq

    df = spark.createDataFrame(
        list(enumerate(_distinct_corpus(20, 5) + _dup_corpus(20, 6))),
        "id long, val string",
    )
    tokens = WhitespaceTokzr().tokenize(df, "id", "val")
    got = tokens_with_doc_freq(tokens, with_pair_key, hot)
    assert got.dtypes == [
        ("id", "bigint"), ("len", "int"), ("token", "string"),
        ("df", "bigint"), ("pos", "int"),
    ] + ([("l_id", "string")] if with_pair_key else [])
    rows = [(r.id, r.len, r.token) for r in tokens.collect()]
    df_of = {}
    for _, _, token in rows:
        df_of[token] = df_of.get(token, 0) + 1
    want, seen = [], {}
    for i, n, token in sorted(rows, key=lambda r: (r[0], df_of[r[2]], r[2])):
        seen[i] = seen.get(i, 0) + 1
        want.append((i, n, token, df_of[token], seen[i])
                    + ((f"{n}_{i}",) if with_pair_key else ()))
    assert sorted(map(tuple, got.collect())) == sorted(want)


@pytest.mark.parametrize("path", ["three-way", "bitset"])
def test_inner_mixed_key_types(spark, path):
    """A bigint-keyed left table joins a string-keyed right one: the
    side-tagged stages keep each side's key in its own column, so no
    cast meets a non-numeric string, the pairs equal brute force and
    the output keeps both key types. WhitespaceTokzr with duplicate
    rows on the left takes the three-way verify (whose duplicate count
    once cast the right keys to bigint); QGramsTokzr(2) takes the
    bitset path, where each right document is its left twin with the
    last letter replaced (7 of 9 bigrams shared, J = 7/11)."""
    if path == "three-way":
        tok, t = WhitespaceTokzr(), 0.4
        l_docs, r_docs = _dup_corpus(40, 11), _distinct_corpus(40, 17)
    else:
        tok, t = QGramsTokzr(2), 0.6
        rng = random.Random(3)
        l_docs = ["".join(rng.sample("abcdefghijkl", 8)) for _ in range(40)]
        r_docs = [
            d[:-1] + min(set("abcdefghijkl") - set(d)) for d in l_docs
        ]
    l = spark.createDataFrame(list(enumerate(l_docs)), "id bigint, val string")
    r = spark.createDataFrame(
        [(f"r{i}", d) for i, d in enumerate(r_docs)], "id string, val string"
    )
    args = (l, r, "id", "id", "val", "val", tok, t)
    filt = jaccard_inner_join(*args)
    brute = jaccard_inner_join_brute_force(*args)
    plan = filt._jdf.queryExecution().optimizedPlan().toString()
    assert ("bit_count" in plan) == (path == "bitset")
    assert pairs(filt) == pairs(brute)
    assert pairs(filt)
    assert dict(filt.dtypes) == dict(brute.dtypes) == {
        "l_id": "bigint", "r_id": "string"
    }


def test_auto_hot_threshold_unit():
    """Pin the auto heavy-hitter engagement math: absolute df floor,
    skew factor vs average-partition rows, threshold = 2x the average
    (floored, capped at max_df so an engaged split is never empty)."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    # under the absolute floor: never engage, however skewed
    assert J._auto_hot_threshold(1_000, 900, 32) is None
    # hot but under FACTOR x avg-partition rows (local-P regime: one
    # stopword is a small multiple of huge partitions -> no straggler)
    assert J._auto_hot_threshold(10**9, 60_000, 32) is None
    # cluster-P regime: avg = 100 rows/partition, max_df 600x that
    thr = J._auto_hot_threshold(1_000_000, 60_000, 10_000)
    assert thr == max(200, J._HOT_SPLIT_MIN_THR) == 1_000
    # threshold floor applies even at extreme P (hot set stays small)
    assert J._auto_hot_threshold(1_000_000, 50_000, 100_000) == 1_000
    # the max_df cap guards patched/extreme constants: an engaged
    # split always has a non-empty hot set
    import unittest.mock as mock
    with mock.patch.object(J, "_HOT_SPLIT_MIN_DF", 10), \
            mock.patch.object(J, "_HOT_SPLIT_MIN_THR", 10_000):
        assert J._auto_hot_threshold(1_000_000, 900, 10_000) == 900


def test_hot_threshold_kwarg_validated_up_front(spark):
    """ADVICE r10: a string other than 'auto' (e.g. the typo 'Auto')
    must raise a clear ValueError at the API boundary, not a cryptic
    int() failure deep in plan construction."""
    from jaccard_join_duckdb_spark import WhitespaceTokzr
    from jaccard_join_duckdb_spark.operators.jaccard import (
        jaccard_inner_join,
        jaccard_self_join,
        tokens_with_doc_freq,
    )

    df = spark.createDataFrame([(1, "a b")], ["id", "val"])
    tok = WhitespaceTokzr()
    with pytest.raises(ValueError, match="hot_df_threshold"):
        jaccard_self_join(df, "id", "val", tok, 0.5,
                          hot_df_threshold="Auto")
    with pytest.raises(ValueError, match="hot_df_threshold"):
        jaccard_inner_join(df, df, "id", "id", "val", "val", tok, 0.5,
                           hot_df_threshold="AUTO")
    with pytest.raises(ValueError, match="hot_df_threshold"):
        tokens_with_doc_freq(tok.tokenize(df, "id", "val"),
                             hot_df_threshold="50")
    # ints and None still accepted (plan builds lazily, no raise)
    jaccard_self_join(df, "id", "val", tok, 0.5, hot_df_threshold=None)
    jaccard_self_join(df, "id", "val", tok, 0.5, hot_df_threshold=10)


@pytest.mark.parametrize("path", ["self", "inner", "self-bag", "inner-bag"])
def test_auto_hot_split_engages_on_skew(spark, monkeypatch, path):
    """DEFAULT-path plan shape on a skewed corpus (VERDICT r9 #4): with
    hot_df_threshold='auto' (the default) and the engagement constants
    scaled to test size, the tkdf build join splits — the broadcast
    anti-join (LeftAnti) appears in the plan — and the pair set is
    identical to the split-disabled run. Covers both the self and the
    inner (per-side dfreq) paths, each with the array verify (set
    mode: the corpus has no duplicate rows, so the integer tids of the
    split join reach the array intersect) and the three-way one
    (``-bag``: bag mode, the hot token written twice)."""
    import jaccard_join_duckdb_spark.operators.jaccard as J
    from jaccard_join_duckdb_spark import WhitespaceTokzr

    monkeypatch.setattr(J, "_HOT_SPLIT_MIN_DF", 5)
    monkeypatch.setattr(J, "_HOT_SPLIT_SKEW_FACTOR", 0.001)
    monkeypatch.setattr(J, "_HOT_SPLIT_MIN_THR", 5)
    path, _, bag = path.partition("-")

    # every doc shares one hot token; tails are near-unique
    twice = " hot" if bag else ""
    docs = spark.createDataFrame(
        [(i, f"hot u{i} v{i} w{i % 7}{twice}") for i in range(40)],
        "doc_id long, text string",
    )
    tokenizer = WhitespaceTokzr(return_set=not bag)

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def pairs(df):
        return sorted(map(tuple, df.collect()))

    if path == "self":
        auto = J.jaccard_self_join(docs, "doc_id", "text", tokenizer, 0.3)
        off = J.jaccard_self_join(
            docs, "doc_id", "text", tokenizer, 0.3, hot_df_threshold=None
        )
    else:
        l, r = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
        auto = J.jaccard_inner_join(
            l, r, "doc_id", "doc_id", "text", "text", tokenizer, 0.3
        )
        off = J.jaccard_inner_join(
            l, r, "doc_id", "doc_id", "text", "text", tokenizer, 0.3,
            hot_df_threshold=None,
        )
    assert "LeftAnti" in plan_of(auto)
    assert "LeftAnti" not in plan_of(off)
    optimized = auto._jdf.queryExecution().optimizedPlan().toString()
    assert ("array_intersect" in optimized) == (not bag)
    assert pairs(auto) == pairs(off)
    assert pairs(auto)  # non-degenerate corpus: the hot token pairs up


def test_tools_resolve_jaccard_names():
    """Every name the tools import from ``operators.jaccard`` (``from
    .. import name``, or ``J.name`` through a module alias) still
    exists, so deleting a private helper cannot silently break a tool
    that only runs outside the test suite."""
    import ast
    import pathlib

    import jaccard_join_duckdb_spark.operators.jaccard as J

    repo = pathlib.Path(__file__).resolve().parents[1]
    missing = []
    for path in sorted(repo.glob("tools/*.py")):
        tree = ast.parse(path.read_text())
        aliases, names = set(), set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    if node.module.endswith("operators.jaccard"):
                        names.add(a.name)
                    elif (node.module.endswith("operators")
                          and a.name == "jaccard"):
                        aliases.add(a.asname or a.name)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in aliases):
                names.add(node.attr)
        missing += [f"{path.name}: {n}" for n in sorted(names)
                    if not hasattr(J, n)]
    assert not missing
