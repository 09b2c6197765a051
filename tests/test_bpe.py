"""BPE subword tokenization: training determinism, encode
correctness (greedy rank order, lossless reconstruction), the Arrow
kernel vs the pure-Python reference, and BPE packing stats vs the
hash-gated packing model."""

import pytest
from pyspark.sql import functions as F

from jaccard_join_duckdb_spark.functions.bpe import (
    bpe_encode,
    bpe_packing_stats,
    bpe_token_count,
    default_merges,
    load_merges,
    save_merges,
    train_bpe,
    with_bpe_token_counts,
)
from jaccard_join_duckdb_spark.session import duckdb_connect

CORPUS = [
    "the cat sat on the mat",
    "the cats eat the fish",
    "a cat and a dog and a fish",
]


def test_train_deterministic():
    m1 = train_bpe(CORPUS, n_merges=40)
    m2 = train_bpe(list(CORPUS), n_merges=40)
    assert m1 == m2
    assert len(m1) <= 40 and len(m1) > 5


def test_train_first_merge_is_most_frequent_pair():
    # ('a','t') appears 6 times (cat/sat/mat/cats/eat/cat) vs
    # ('t','h') 4 times (the x4) — most frequent pair merges first
    # (ties would break lexicographically).
    merges = train_bpe(CORPUS, n_merges=1)
    assert merges == [("a", "t")]


def _train_bpe_naive(texts, n_merges):
    """The per-iteration full-rescan reference trainer (Sennrich et
    al. 2016, Alg. 1 verbatim — the pre-round-7 implementation).
    train_bpe's indexed/heap fast path must match it bit-for-bit."""
    import re

    vocab = {}
    for text in texts:
        for w in re.findall(r"\w+|[^\w\s]", (text or "").lower()):
            sym = tuple(w) + ("</w>",)
            vocab[sym] = vocab.get(sym, 0) + 1
    merges = []
    for _ in range(int(n_merges)):
        pairs = {}
        for sym, freq in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freq
        if not pairs:
            break
        top = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == top)
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab = {}
        for sym, freq in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if (
                    i + 1 < len(sym)
                    and sym[i] == best[0]
                    and sym[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + freq
        vocab = new_vocab
    return merges


def test_fast_trainer_matches_naive():
    """Round 7 swapped train_bpe to an indexed-incremental + lazy-heap
    algorithm to make 8k-merge tables trainable; it must produce the
    SAME merge list as the naive rescan on corpora that exercise tie
    breaks, pair re-emergence, and merge exhaustion."""
    corpora = [
        CORPUS,
        ["aaaa aaab abab baba", "abc abc abc", "zzz zz z"],
        ["x"],
        [""],
        ["the quick brown fox jumps over the lazy dog " * 3,
         "pack my box with five dozen liquor jugs"],
    ]
    for texts in corpora:
        for n in (1, 7, 40, 500):
            assert train_bpe(texts, n) == _train_bpe_naive(texts, n), (
                texts, n,
            )


def test_encode_is_lossless():
    merges = train_bpe(CORPUS, n_merges=30)
    for text in CORPUS + ["completely unseen wordforms zz9!"]:
        toks = bpe_encode(text, merges)
        rebuilt = "".join(toks).replace("</w>", "")
        import re
        words = re.findall(r"\w+|[^\w\s]", text.lower())
        assert rebuilt == "".join(words)


def test_encode_greedy_rank_order():
    # ranks: (a,b) first, then (ab,c) — 'abc' must become 'abc</w>'
    # only if (abc,</w>) merged; here it stays ['abc', '</w>'] pieces.
    merges = [("a", "b"), ("ab", "c")]
    assert bpe_encode("abc", merges) == ["abc", "</w>"]
    # without the second merge the 'c' stays separate
    assert bpe_encode("abc", [("a", "b")]) == ["ab", "c", "</w>"]
    # rank order matters: (b,c) ranked first consumes b before (a,b)
    assert bpe_encode("abc", [("b", "c"), ("a", "b")]) == ["a", "bc", "</w>"]


def test_default_merges_load_and_roundtrip(tmp_path):
    merges = default_merges()
    assert len(merges) >= 256
    # the seed head words encode compactly
    assert bpe_encode("the", merges) == ["the</w>"]
    p = tmp_path / "m.txt"
    save_merges(merges, str(p))
    assert load_merges(str(p)) == merges


def test_token_count_matches_encode():
    merges = default_merges()
    for text in CORPUS:
        assert bpe_token_count(text, merges) == len(bpe_encode(text, merges))


def test_spark_kernel_matches_python(spark):
    texts = CORPUS + ["", "UPPER Case MiXeD", "punct, marks! and? quotes"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in with_bpe_token_counts(df, "text").collect()
    }
    merges = default_merges()
    for i, t in enumerate(texts):
        assert got[i] == bpe_token_count(t, merges), t


def test_bpe_packing_stats_model(spark):
    """bpe_packing_stats must equal packing_stats run on a
    pre-computed BPE count column (same hash-gated arithmetic), and
    its totals must cover every non-empty document."""
    from jaccard_join_duckdb_spark.functions.text import packing_stats

    texts = ["word " * n for n in (1, 3, 10, 40, 100)] + [""]
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = bpe_packing_stats(
        df, "doc_id", "text", context_len=64, bucket_width=8
    )
    counted = with_bpe_token_counts(df, "text")
    want = packing_stats(
        counted, "doc_id", "text", context_len=64, bucket_width=8,
        token_count_col="n_bpe_tokens",
    )
    key = lambda r: r["bucket_len"]  # noqa: E731
    assert sorted(map(tuple, got.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, want.collect()), key=lambda t: t[0]
    )
    n_docs = sum(r["n_docs"] for r in got.collect())
    assert n_docs == 5  # the empty doc is excluded


def test_packing_stats_ws_path_unchanged(spark):
    """token_count_col=None keeps the original whitespace counting
    (the hash-gated pack_stats row must not shift)."""
    from jaccard_join_duckdb_spark.functions.text import packing_stats

    df = spark.createDataFrame(
        [(0, "a b c"), (1, "d e")], ["doc_id", "text"]
    )
    rows = packing_stats(
        df, "doc_id", "text", context_len=8, bucket_width=2
    ).collect()
    by_bucket = {r["bucket_len"]: r for r in rows}
    assert by_bucket[4]["n_docs"] == 1 and by_bucket[4]["sum_tokens"] == 3
    assert by_bucket[2]["n_docs"] == 1 and by_bucket[2]["sum_tokens"] == 2


def test_oracle_fixture_matches_encoder():
    """The pack_stats_bpe DuckDB twin joins a pre-encoded fixture
    (jaccard_join_duckdb_spark/data/bpe_counts_md5.parquet, written by
    tools/gen_bpe_fixture.py). Pin it live: every sf0.001 document
    text must be present under its md5 and carry exactly the
    pure-Python encoder's token count — a stale or truncated fixture
    fails here before it fails the driver gate."""
    import hashlib

    from jaccard_join_duckdb_spark.functions.bpe import (
        DEFAULT_MERGES_PATH,
        bpe_token_count,
        default_merges,
    )
    from tests.conftest import SF_SMALL

    fixture = (
        DEFAULT_MERGES_PATH.rsplit("/", 1)[0] + "/bpe_counts_md5.parquet"
    )
    con = duckdb_connect()
    counts = dict(
        con.sql(
            f"select text_md5, n_bpe_tokens from read_parquet('{fixture}')"
        ).fetchall()
    )
    merges = default_merges()
    texts = [
        t
        for (t,) in con.sql(
            "select distinct text from "
            f"read_parquet('{SF_SMALL}/documents.parquet') "
            "where text is not null"
        ).fetchall()
    ]
    assert texts
    for t in texts:
        h = hashlib.md5(t.encode("utf-8")).hexdigest()
        assert h in counts, f"fixture missing text md5 {h}"
        assert counts[h] == bpe_token_count(t, merges)
