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
    import duckdb

    from jaccard_join_duckdb_spark.plans.ref_sql import self_filtered_sql
    from tests.conftest import TESTS_DIR
    import os

    tok = QGramsTokzr(2)
    filt = jaccard_self_join(interests, "id", "interests", tok, t)
    brute = jaccard_self_join_brute_force(interests, "id", "interests", tok, t)
    assert pairs(filt) <= pairs(brute)

    csv = os.path.join(TESTS_DIR, "data", "interests.csv")
    ref = duckdb.connect().execute(
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


def test_verify_attach_gate_unit(documents, monkeypatch):
    """_verify_attach broadcast-gate semantics (round 9, VERDICT r8
    next #3): above the size cap OR below the benefit ratio the attach
    frame is returned UNHINTED (same object — the shuffle join stays,
    the right plan at corpus scale / on small candidate streams); caps
    and ratio resolve at call time so this very patching works; the
    doc-count probe is limit-bounded, not a full scan; and the bitset
    cap is width-aware (ADVICE r8 #1)."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    # identity above the cap, hint below it (bound omitted)
    assert J._verify_attach(documents, 6, 5) is documents
    assert J._verify_attach(documents, 0, 5) is documents  # unknown count
    assert J._verify_attach(documents, 5, 5) is not documents
    # benefit gate: a known-small candidate bound declines; a large
    # one (>= ratio * rows) accepts
    ratio = J._BROADCAST_VERIFY_MIN_RATIO
    assert J._verify_attach(documents, 5, 5, bound=5 * ratio - 1) is documents
    assert J._verify_attach(documents, 5, 5, bound=5 * ratio) is not documents
    # call-time cap resolution (default + token-level)
    monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_DOCS", 0)
    monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_TOKENS", 0)
    assert J._verify_attach(documents, 1) is documents
    assert J._verify_attach(documents, 1, token_level=True) is documents
    # call-time ratio resolution
    monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_DOCS", 250_000)
    monkeypatch.setattr(J, "_BROADCAST_VERIFY_MIN_RATIO", 0)
    assert J._verify_attach(documents, 5, 5, bound=1) is not documents
    # the probe stops at cap+1 rows instead of counting the frame
    monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_DOCS", 3)
    assert documents.count() > 4
    assert J._doc_count_probe(documents) == 4
    # width-aware bitset cap: 1-word tables keep the row cap, 64-word
    # (4096-bit) tables shrink to the byte budget / 528 B rows
    monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_DOCS", 250_000)
    assert J._bitset_verify_cap(1) == 250_000
    assert J._bitset_verify_cap(64) == (64 << 20) // (8 * 66)
    assert J._bitset_verify_cap(64) < J._bitset_verify_cap(4)


@pytest.mark.parametrize("tok", ["ws", "ws_fast", "qgram"])
def test_verify_attach_above_gate_fallback(documents, monkeypatch, tok):
    """Force the doc/token counts past the broadcast caps and pin the
    fallback: the verification attach joins revert to shuffle joins
    (strictly fewer BroadcastHashJoin nodes, strictly more
    SortMergeJoin nodes in the static plan) and the pair set is
    unchanged — the gate is a pure physical-plan decision. Covers all
    three verification paths: generic pairs×tokens (ws), compiled
    array-intersect (ws_fast), bitset (qgram).

    autoBroadcastJoinThreshold is disabled for the comparison: that is
    the 100 TB regime (no side clears the stats threshold), where the
    gate's hint is the ONLY broadcast source — at test scale the
    stats-based planner would otherwise broadcast everything and mask
    the gate entirely."""
    import jaccard_join_duckdb_spark.operators.jaccard as J

    spark = documents.sparkSession
    tokenizer = {
        "ws": WhitespaceTokzr(),
        "ws_fast": WhitespaceTokzr(distinct_rows=True),
        "qgram": QGramsTokzr(3),
    }[tok]

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def attach_joins(plan, node):
        """Plan lines where ``node`` joins on an attach key — the
        verification attaches are the only joins keyed on lid/rid
        (whole-plan broadcast counts would be polluted by the bitset
        path's tdim broadcast and by cross-test cache aliasing of the
        persisted token frames)."""
        return [
            ln
            for ln in plan.splitlines()
            if node in ln and ("[lid#" in ln or "[rid#" in ln)
        ]

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # ratio 0: force the benefit gate OPEN on this tiny corpus so
        # the gated phase actually hints (the real ratio would decline
        # sf0.001's small candidate stream — by design; no doc-count
        # floor exists since round 10)
        monkeypatch.setattr(J, "_BROADCAST_VERIFY_MIN_RATIO", 0)
        gated = jaccard_self_join(documents, "doc_id", "text", tokenizer, 0.5)
        gated_plan = plan_of(gated)
        gated_pairs = pairs(gated)

        monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_DOCS", 0)
        monkeypatch.setattr(J, "_MAX_BROADCAST_VERIFY_TOKENS", 0)
        off = jaccard_self_join(documents, "doc_id", "text", tokenizer, 0.5)
        off_plan = plan_of(off)

        assert pairs(off) == gated_pairs
        # gate on: every attach join is broadcast, none shuffles
        assert attach_joins(gated_plan, "BroadcastHashJoin")
        assert not attach_joins(gated_plan, "SortMergeJoin")
        # gate declined: every attach join stays sort-merge
        assert attach_joins(off_plan, "SortMergeJoin")
        assert not attach_joins(off_plan, "BroadcastHashJoin")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_self_gate_stats_formula(spark):
    """Pin _self_gate_stats against hand-computed values on a 3-doc
    corpus at t=0.5 (the gate's only inputs): n_docs from pos==1 rows,
    n_tok from all rows, the candidate bound = sum over tokens of
    (indexing-prefix rows × probing-prefix rows), and dup_rows (the
    exact duplicate (id, token) row count, gating the
    runtime-distinct array verification).

    Corpus: d1 "a b c", d2 "b c", d3 "c a" → df a:2 b:2 c:3; pos by
    (df, token) order. Indexing prefix (len-pos+1 >= 2·len/3): a and b
    qualify in their docs, c never. Probing prefix (len-pos+1 >=
    len/2): all but d1's c qualify. bound = a:2·2 + b:2·2 + c:0·2 = 8;
    dup_rows = 0 (set mode, no case variants).
    """
    import jaccard_join_duckdb_spark.operators.jaccard as J
    from jaccard_join_duckdb_spark import WhitespaceTokzr

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c"), (3, "c a")], "id long, val string"
    )
    tokens = WhitespaceTokzr().tokenize(df, "id", "val")
    tkdf = J.tokens_with_doc_freq(tokens, with_pair_key=True)
    assert J._self_gate_stats(tkdf, 0.5) == (3, 7, 8, 0)
    # skip_dup (round 12, rows_distinct tokenizers): same gate scalars
    # without the count_distinct column; dup_rows pinned to the known 0
    assert J._self_gate_stats(tkdf, 0.5, skip_dup=True) == (3, 7, 8, 0)

    dup = spark.createDataFrame(
        [(1, "A a b"), (2, "a b")], "id long, val string"
    )
    dup_tkdf = J.tokens_with_doc_freq(
        WhitespaceTokzr().tokenize(dup, "id", "val"), with_pair_key=True
    )
    # d1 tokenizes to rows a,a,b (case-collapsed duplicate) → 1 dup row
    assert J._self_gate_stats(dup_tkdf, 0.5)[3] == 1


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
    # cannot promise distinct rows: the gate stats measure zero
    "self-array": ("self", WhitespaceTokzr, "distinct", None, "array_sort"),
    "self-three-way-quirk": ("self", WhitespaceTokzr, "dup", None, None),
    "self-three-way-bag": ("self", lambda: WhitespaceTokzr(return_set=False),
                           "dup", None, None),
    "inner-bitset": ("inner", lambda: WhitespaceTokzr(distinct_rows=True),
                     "distinct", "distinct", "bit_count"),
    "inner-array": ("inner", WhitespaceTokzr, "distinct", "distinct",
                    "array_sort"),
    # one duplicate-carrying side vetoes the array verify for the join
    "inner-three-way-one-side": ("inner", WhitespaceTokzr, "dup",
                                 "distinct", None),
    "inner-three-way-bag": ("inner",
                            lambda: WhitespaceTokzr(return_set=False),
                            "dup", "dup", None),
}
_VERIFY_MARKERS = ("bit_count", "array_sort")


@pytest.mark.parametrize("t", [0.2, 0.4, 0.6])
@pytest.mark.parametrize("case", list(_VERIFY_CASES))
def test_verify_strategy_equals_brute_force(spark, case, t):
    """Each verify strategy (bitset popcount, array intersect, three-way
    join) in each join equals brute force, and the data picks the
    strategy: the vocabulary size picks the bitset, the measured
    duplicate-row count picks array or three-way.

    The reference's prefix filter is complete only for set overlaps
    between a shorter-or-equal indexing-side document and a probing
    one, so every document has eight token rows (no lexicographic l_id
    quirk, SURVEY.md §4.3.2; no longer indexing side) and duplicate
    rows sit on a word no other document has. Parity with the
    reference where duplicates match across documents is pinned by
    test_property_fuzz.py's ws-bag and delim arms."""
    mode, mk_tok, left, right, marker = _VERIFY_CASES[case]
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


@pytest.mark.parametrize("path", ["self", "inner"])
def test_auto_hot_split_engages_on_skew(spark, monkeypatch, path):
    """DEFAULT-path plan shape on a skewed corpus (VERDICT r9 #4): with
    hot_df_threshold='auto' (the default) and the engagement constants
    scaled to test size, the tkdf build join splits — the broadcast
    anti-join (LeftAnti) appears in the plan — and the pair set is
    identical to the split-disabled run. Covers both the self and the
    inner (per-side dfreq) paths."""
    import jaccard_join_duckdb_spark.operators.jaccard as J
    from jaccard_join_duckdb_spark import WhitespaceTokzr

    monkeypatch.setattr(J, "_HOT_SPLIT_MIN_DF", 5)
    monkeypatch.setattr(J, "_HOT_SPLIT_SKEW_FACTOR", 0.001)
    monkeypatch.setattr(J, "_HOT_SPLIT_MIN_THR", 5)

    # every doc shares one hot token; tails are near-unique
    docs = spark.createDataFrame(
        [(i, f"hot u{i} v{i} w{i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    tok = WhitespaceTokzr()  # bag mode: non-bitset, non-array path

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def pairs(df):
        return sorted(map(tuple, df.collect()))

    if path == "self":
        auto = J.jaccard_self_join(docs, "doc_id", "text", tok, 0.3)
        off = J.jaccard_self_join(
            docs, "doc_id", "text", tok, 0.3, hot_df_threshold=None
        )
    else:
        l, r = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
        auto = J.jaccard_inner_join(
            l, r, "doc_id", "doc_id", "text", "text", tok, 0.3
        )
        off = J.jaccard_inner_join(
            l, r, "doc_id", "doc_id", "text", "text", tok, 0.3,
            hot_df_threshold=None,
        )
    assert "LeftAnti" in plan_of(auto)
    assert "LeftAnti" not in plan_of(off)
    assert pairs(auto) == pairs(off)
    assert pairs(auto)  # non-degenerate corpus: the hot token pairs up
