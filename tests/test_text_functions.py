"""Text-analysis function tests: determinism + DuckDB parity for the
expression shapes used by the oracle queries."""

from jaccard_join_duckdb_spark.functions.text import (
    doc_fingerprint,
    lang_id,
    poly_hash,
    text_stats,
    token_counts,
)
from jaccard_join_duckdb_spark.session import duckdb_connect

ROWS = [
    (1, "The quick brown fox, it jumps over the lazy dog!"),
    (2, "el gato y la casa de los árboles"),
    (3, "12345 67890 (42)"),
    (4, "la"),
    (5, "Der Hund und die Katze ist nicht da"),
]


def _df(spark, rows=ROWS):
    return spark.createDataFrame(rows, ["id", "text"])


def test_poly_hash_matches_duckdb(spark):
    words = ["table", "scan", "a", "Zebra", "ärbol"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {r.w: r.h for r in df.select("w", poly_hash(df.w).alias("h")).collect()}
    con = duckdb_connect()
    for w in words:
        want = con.execute(
            "select list_reduce(list_prepend(CAST(0 AS BIGINT),"
            " list_transform(generate_series(1, len(?)), i ->"
            " CAST(ascii(substring(?, i, 1)) AS BIGINT))),"
            " (a, c) -> (a * 31 + c) % 2147483647)",
            [w, w],
        ).fetchone()[0]
        assert got[w] == want, w


def test_token_counts(spark):
    out = {r.id: r for r in token_counts(_df(spark), "id", "text").collect()}
    assert out[1].ws_tokens == 10
    assert out[3].ws_tokens == 3
    assert out[3].bpe_tokens == 5  # 12345, 67890, (, 42, )
    assert out[1].n_chars == len(ROWS[0][1])


def test_text_stats_ranges(spark):
    rows = text_stats(_df(spark), "id", "text").collect()
    for r in rows:
        for c in ("digit_ratio", "punct_ratio", "upper_ratio", "stopword_ratio"):
            assert 0.0 <= r[c] <= 1.0, (r.id, c)
        assert 0.0 <= r.quality <= 1.0
    by_id = {r.id: r for r in rows}
    assert by_id[3].digit_ratio > 0.5
    assert by_id[1].stopword_ratio > 0.2


def test_lang_id_predictions(spark):
    out = {r.id: r.pred_lang for r in lang_id(_df(spark), "id", "text").collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[5] == "de"
    # "la" hits both es and fr -> alphabetical tie-break order
    assert out[4] == "es"


def test_doc_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " HELLO\tWORLD ")],
        ["id", "text"],
    )
    fps = [r.fingerprint for r in doc_fingerprint(df, "id", "text").collect()]
    assert len(set(fps)) == 1


def test_bm25_top_terms(spark):
    """Hand-checkable corpus: rare terms outrank common ones; rank
    ties break on token; tf/score columns exact."""
    from jaccard_join_duckdb_spark.functions.text import bm25_top_terms

    rows = [
        (1, "apple banana banana"),
        (2, "apple cherry"),
        (3, "apple date date date"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {(r.id, r.rank): (r.token, r.tf) for r in
           bm25_top_terms(df, "id", "text", k=2).collect()}
    # 'apple' is in every doc (df=3, idf=(3-3+.5)/(3+.5)=1/7) while
    # each doc's other term has df=1 (idf=(3-1+.5)/(1.5)=5/3): the
    # rare term must rank first everywhere.
    assert out[(1, 1)][0] == "banana" and out[(1, 2)][0] == "apple"
    assert out[(2, 1)][0] == "cherry"
    assert out[(3, 1)][0] == "date" and out[(3, 1)][1] == 3
    # every doc got exactly its 2 distinct terms
    assert len(out) == 6


def test_redact_pii_known_strings(spark):
    from jaccard_join_duckdb_spark.functions.text import redact_pii

    rows = [
        (1, "mail me at a.b+c@ex-site.co.uk or visit https://x.io/p?q=1 now"),
        (2, "call +1 555-123-4567 or 0800 111 222 today"),
        (3, "no pii here at all"),
        (4, "double http://a.b/c http://d.e/f and x@y.zz"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r for r in redact_pii(df, "id", "text").collect()}
    assert got[1].n_emails == 1 and got[1].n_urls == 1
    assert "<EMAIL>" in got[1].clean_text and "<URL>" in got[1].clean_text
    assert "a.b+c@ex-site.co.uk" not in got[1].clean_text
    assert got[2].n_phones >= 1 and "555-123-4567" not in got[2].clean_text
    assert got[3].clean_text == "no pii here at all"
    assert (got[3].n_urls, got[3].n_emails, got[3].n_phones) == (0, 0, 0)
    assert got[4].n_urls == 2 and got[4].n_emails == 1


def test_repetition_stats_known_docs(spark):
    from jaccard_join_duckdb_spark.functions.text import repetition_stats

    rows = [
        (1, "a a a a"),                  # one token repeated
        (2, "w x y z"),                  # all distinct, distinct bigrams
        (3, "go stop go stop go stop"),  # degenerate loop
        (4, ""),                         # empty
        (5, "solo"),                     # no bigrams
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r for r in repetition_stats(df, "id", "text").collect()}
    assert got[1].n_tokens == 4
    assert got[1].dup_token_ratio == 0.75 and got[1].top_token_frac == 1.0
    assert got[1].dup_bigram_ratio == 1.0  # "a a" x3
    assert got[2].dup_token_ratio == 0.0 and got[2].dup_bigram_ratio == 0.0
    assert got[2].top_token_frac == 0.25
    # 6 tokens, 2 distinct; bigrams: "go stop"x3, "stop go"x2 -> all dup
    assert got[3].dup_token_ratio == round(1 - 2 / 6, 6)
    assert got[3].top_token_frac == 0.5
    assert got[3].dup_bigram_ratio == 1.0
    assert got[4].n_tokens == 0 and got[4].dup_token_ratio == 0.0
    assert got[5].n_tokens == 1 and got[5].dup_bigram_ratio == 0.0


def test_redact_pii_phone_format_required(spark):
    """Round-5 hardening: phones need FORMAT, not digit mass — ids,
    timestamps, and ISBNs survive; formatted phones and IPv4s are
    redacted (PII_PATTERNS docstring)."""
    from jaccard_join_duckdb_spark.functions.text import redact_pii

    rows = [
        (1, "order 123456789012 shipped on 2026-08-14"),
        (2, "ISBN 978-0-306-40615-7 in stock"),
        (3, "call (555) 123-4567 or +15551234567"),
        (4, "dial 0800 111 222 now"),
        (5, "server at 192.168.1.254 responded"),
        (6, "release v1.22.33.4 is out"),  # documented IP false positive
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r for r in redact_pii(df, "id", "text").collect()}
    assert got[1].n_phones == 0 and got[1].n_ips == 0
    assert got[1].clean_text == rows[0][1]
    assert got[2].n_phones == 0 and got[2].clean_text == rows[1][1]
    assert got[3].n_phones == 2 and "<PHONE>" in got[3].clean_text
    assert got[4].n_phones == 1
    assert got[5].n_ips == 1 and "192.168.1.254" not in got[5].clean_text
    assert got[6].n_ips == 1  # version-string FP, accepted and documented


def test_redact_pii_matches_duckdb_oracle(spark):
    """Pattern strings are shared with the oracle generator — any
    hardening must keep both engines in lockstep on crafted cases."""
    from jaccard_join_duckdb_spark.functions.text import redact_pii
    from jaccard_join_duckdb_spark.plans.oracle_ext import redact_pii_sql

    rows = [
        (1, "mail a@b.co see https://x.io/1.2.3.4 call +1 555-123-4567"),
        (2, "order 1234567890 at 10.20.30.40 on 2026-08-14"),
        (3, "(555) 123-4567 and user@192.168.0.1 and bare 5551234567"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = sorted(map(tuple, redact_pii(df, "id", "text").collect()))
    con = duckdb_connect()
    con.execute(
        "create table t as select * from (values "
        + ", ".join(
            f"({i}, " + ("NULL" if s is None else f"'{s}'") + ")"
            for i, s in rows
        )
        + ") v(id, text)"
    )
    want = sorted(map(tuple, con.execute(
        redact_pii_sql("t", "id", "text")
    ).fetchall()))
    assert got == want


def test_corpus_profile_approx_path_bounded_delta(spark, documents):
    """The exact=False branch (t-digest approx_percentile — the
    documented >1e9-doc path) is otherwise only docstring-covered:
    counts/sums must be IDENTICAL to the exact path (they don't go
    through the sketch), and the sketched percentiles must sit within
    the corpus's observed length range and close to exact (t-digest
    on a few hundred values is near-exact; bound generously so the
    pin survives data regeneration)."""
    from jaccard_join_duckdb_spark.functions.text import corpus_profile

    exact = corpus_profile(documents, "doc_id", "text", exact=True).collect()[0]
    approx = corpus_profile(documents, "doc_id", "text", exact=False).collect()[0]
    assert approx.n_docs == exact.n_docs
    assert approx.n_empty_docs == exact.n_empty_docs
    assert approx.total_tokens == exact.total_tokens
    assert approx.avg_tokens == exact.avg_tokens
    assert approx.max_tokens == exact.max_tokens
    for col in ("p50_tokens", "p90_tokens", "p99_tokens"):
        e, a = float(getattr(exact, col)), float(getattr(approx, col))
        assert abs(a - e) <= max(2.0, 0.05 * e), (col, e, a)
    assert approx.p50_tokens <= approx.p90_tokens <= approx.p99_tokens
    assert approx.p99_tokens <= approx.max_tokens


def test_packing_stats_known_geometry(spark):
    """Hand-checkable packing: context 100, width 10. Docs of 5, 10,
    95, and 250 tokens → buckets 10 (two docs, 10 per seq), 100 (one
    doc, 1 per seq), and the long doc truncated to one full
    sequence."""
    from jaccard_join_duckdb_spark.functions.text import packing_stats

    rows = [
        (1, " ".join(f"t{i}" for i in range(5))),
        (2, " ".join(f"t{i}" for i in range(10))),
        (3, " ".join(f"t{i}" for i in range(95))),
        (4, " ".join(f"t{i}" for i in range(250))),
        (5, ""),  # empty: excluded
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.bucket_len: r
        for r in packing_stats(
            df, "id", "text", context_len=100, bucket_width=10
        ).collect()
    }
    assert set(got) == {10, 100}
    b10 = got[10]
    assert (b10.n_docs, b10.sum_tokens, b10.docs_per_seq, b10.n_sequences) \
        == (2, 15, 10, 1)
    assert b10.fill_ratio == 0.15
    b100 = got[100]  # the 95-token doc and the truncated 250-token doc
    assert (b100.n_docs, b100.sum_tokens, b100.docs_per_seq,
            b100.n_sequences) == (2, 195, 1, 2)
    assert b100.fill_ratio == 0.975


def test_packing_stats_validation(spark, documents):
    import pytest as _pytest

    from jaccard_join_duckdb_spark.functions.text import packing_stats

    with _pytest.raises(ValueError):
        packing_stats(documents, "doc_id", "text", context_len=0)
    with _pytest.raises(ValueError):
        packing_stats(
            documents, "doc_id", "text", context_len=64, bucket_width=128
        )


def test_remove_boilerplate_lines_crafted(spark):
    """Footer lines shared by >= threshold docs drop everywhere
    (normalization catches case/whitespace variants); unique content
    stays in order; blank lines are never dropped; a doc whose every
    line is boilerplate keeps its row with empty text."""
    from jaccard_join_duckdb_spark.functions.text import (
        remove_boilerplate_lines,
    )

    footer = "Follow us on example social"
    rows = [
        (1, "alpha unique one\n" + footer + "\n\nbeta keeps order"),
        (2, "gamma other text\n" + footer.lower()),
        (3, "delta third doc\n  follow us   on example social  "),
        (4, footer),  # all-boilerplate doc
        (5, "no footer here at all"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: r
        for r in remove_boilerplate_lines(
            df, "id", "text", max_doc_frac=0.5, min_docs=2
        ).collect()
    }
    assert len(got) == 5
    assert got[1].clean_text == "alpha unique one\n\nbeta keeps order"
    assert (got[1].n_lines, got[1].n_dropped) == (4, 1)
    assert got[2].clean_text == "gamma other text"
    assert got[3].clean_text == "delta third doc"
    assert got[4].clean_text == "" and got[4].n_dropped == 1
    assert got[5].clean_text == "no footer here at all"
    assert got[5].n_dropped == 0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        remove_boilerplate_lines(df, "id", "text", max_doc_frac=0.0)


def test_url_domain_stats_and_blocklist_filter(spark):
    from jaccard_join_duckdb_spark.functions.text import (
        filter_blocked_domains,
        url_domain_stats,
    )

    rows = [
        (1, "see https://Ads.Example.com/x and https://ads.example.com/y"),
        (2, "visit http://news.site.org/a then https://sub.ads.example.com/b"),
        (3, "no urls at all"),
        (4, "plain http://site.org:8080/path here"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.domain: (r.n_urls, r.n_docs) for r in url_domain_stats(df, "id", "text").collect()}
    assert got["ads.example.com"] == (2, 1)       # lowercased, per-doc distinct
    assert got["news.site.org"] == (1, 1)
    assert got["sub.ads.example.com"] == (1, 1)
    assert got["site.org:8080"] == (1, 1)          # port kept: distinct origin

    kept = sorted(
        r.id
        for r in filter_blocked_domains(
            df, "id", "text", ["ads.example.com"]
        ).collect()
    )
    # doc 1 (direct) and doc 2 (subdomain of blocked) drop; 3 & 4 stay
    assert kept == [3, 4]
    assert sorted(
        r.id for r in filter_blocked_domains(df, "id", "text", []).collect()
    ) == [1, 2, 3, 4]


def test_pack_sequences_invariants(spark, documents):
    """The assignment honors the model packing_stats estimates:
    per-bucket capacity respected, seq_ids globally dense from 0,
    slots dense within each sequence, deterministic in (ids, seed),
    and the sequence count per bucket equals packing_stats'
    n_sequences."""
    from jaccard_join_duckdb_spark.functions.text import (
        pack_sequences,
        packing_stats,
    )

    ctx, w = 512, 16
    out = pack_sequences(
        documents, "doc_id", "text", context_len=ctx, bucket_width=w
    ).collect()
    assert out
    seqs = {}
    for r in out:
        seqs.setdefault(r.seq_id, []).append(r)
    seq_ids = sorted(seqs)
    assert seq_ids == list(range(len(seq_ids)))  # dense from 0
    stats = {
        r.bucket_len: r
        for r in packing_stats(
            documents, "doc_id", "text", context_len=ctx, bucket_width=w
        ).collect()
    }
    per_bucket_seqs = {}
    for sid, rows in seqs.items():
        blens = {r.bucket_len for r in rows}
        assert len(blens) == 1  # a sequence never mixes buckets
        b = blens.pop()
        assert len(rows) <= ctx // b  # capacity
        assert sorted(r.slot for r in rows) == list(range(len(rows)))
        per_bucket_seqs[b] = per_bucket_seqs.get(b, 0) + 1
    for b, n in per_bucket_seqs.items():
        assert n == stats[b].n_sequences
    again = pack_sequences(
        documents.repartition(5), "doc_id", "text",
        context_len=ctx, bucket_width=w,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_remove_boilerplate_paragraph_granularity(spark):
    """sep='\\n\\n' switches the unit to paragraphs: a repeated
    multi-line footer paragraph drops whole, while its individual
    lines inside unique paragraphs survive — and the DuckDB twin
    agrees with the matching sep_sql."""
    from jaccard_join_duckdb_spark.functions.text import (
        remove_boilerplate_lines,
    )
    from jaccard_join_duckdb_spark.plans.oracle_ext import (
        remove_boilerplate_sql,
    )

    footer = "follow us\non example social"
    rows = [
        (1, "unique alpha text\n\n" + footer),
        (2, "unique beta text\n\n" + footer),
        (3, "follow us\nbut in a unique paragraph context"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: r
        for r in remove_boilerplate_lines(
            df, "id", "text", max_doc_frac=0.5, min_docs=2, sep="\n\n"
        ).collect()
    }
    assert got[1].clean_text == "unique alpha text"
    assert got[2].clean_text == "unique beta text"
    assert got[3].clean_text == rows[2][1]  # lines inside ≠ paragraph match
    assert got[1].n_dropped == 1 and got[3].n_dropped == 0

    con = duckdb_connect()
    vals = ", ".join(
        "({}, '{}')".format(i, x.replace("\n", "' || chr(10) || '"))
        for i, x in rows
    )
    con.execute(f"create view t as select * from (values {vals}) v(id, text)")
    want = sorted(map(tuple, con.execute(
        remove_boilerplate_sql(
            "t", "id", "text", max_doc_frac=0.5, min_docs=2,
            sep_sql="chr(10) || chr(10)",
        )
    ).fetchall()))
    assert sorted(map(tuple, (tuple(r) for r in got.values()))) == want


class TestTokenRarity:
    def test_crafted(self, spark):
        from jaccard_join_duckdb_spark.functions.text import token_rarity_stats

        df = spark.createDataFrame(
            [
                (0, "the the the cat"),   # 'the' cf=3, 'cat' cf=2
                (1, "cat zyx"),           # 'zyx' cf=1
                (2, ""),                  # empty
                (3, "   "),               # whitespace only
            ],
            ["doc_id", "text"],
        )
        rows = {r.id: r for r in token_rarity_stats(df, "doc_id", "text").collect()}
        assert set(rows) == {0, 1, 2, 3}
        r0 = rows[0]
        # cfs: the=3 (x3 occurrences), cat=2 -> sum 3+3+3+2=11, n=4
        assert (r0.n_tokens, r0.min_cf) == (4, 2)
        assert r0.mean_cf == round(11 / 4, 6)
        assert r0.rare_ratio == 0.25  # only 'cat' (cf=2) <= rare_max=2
        r1 = rows[1]
        assert (r1.n_tokens, r1.min_cf) == (2, 1)
        assert r1.rare_ratio == 1.0  # cat cf=2 and zyx cf=1 both <= 2
        for empty in (rows[2], rows[3]):
            assert empty.n_tokens == 0
            assert empty.min_cf is None and empty.mean_cf is None

    def test_rare_max_threshold(self, spark):
        from jaccard_join_duckdb_spark.functions.text import token_rarity_stats

        df = spark.createDataFrame(
            [(0, "a a b"), (1, "b c")], ["doc_id", "text"]
        )
        # cf: a=2, b=2, c=1
        strict = {r.id: r.rare_ratio
                  for r in token_rarity_stats(df, "doc_id", "text", rare_max=1).collect()}
        assert strict[0] == 0.0 and strict[1] == 0.5


class TestNgramCounts:
    def test_crafted(self, spark):
        from jaccard_join_duckdb_spark.functions.text import ngram_counts

        df = spark.createDataFrame(
            [(0, "a b c a b c"), (1, "a b"), (2, "")],
            ["doc_id", "text"],
        )
        got = {r.ngram: r.n_count
               for r in ngram_counts(df, "doc_id", "text", n=3).collect()}
        # doc 0 trigrams: "a b c","b c a","c a b","a b c"; doc 1 too short
        assert got == {"a b c": 2, "b c a": 1, "c a b": 1}

    def test_min_count_and_no_cross_doc(self, spark):
        from jaccard_join_duckdb_spark.functions.text import ngram_counts

        df = spark.createDataFrame(
            [(0, "x y"), (1, "y z")], ["doc_id", "text"]
        )
        # bigram "y y" would only exist across the doc boundary
        got = {r.ngram for r in ngram_counts(df, "doc_id", "text", n=2).collect()}
        assert got == {"x y", "y z"}
        assert ngram_counts(df, "doc_id", "text", n=2, min_count=2).count() == 0


class TestLmScore:
    def test_crafted_add1_bigram(self, spark):
        """Hand-computed add-1 bigram LM on a 4-doc corpus.

        Counts: "a b"=3, "b a"=1, "b c"=1; unigrams a=3 b=3 c=1 x=1
        (V=4). logp("a b")=ln(4/7), logp("b a")=logp("b c")=ln(2/7).
        """
        import math

        from jaccard_join_duckdb_spark.functions.text import lm_score

        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c"), (3, "x"), (4, "")],
            ["doc_id", "text"],
        )
        rows = {r["doc_id"]: r for r in lm_score(df, "doc_id", "text").collect()}
        ab, ba = math.log(4 / 7), math.log(2 / 7)
        assert rows[1]["n_ngrams"] == 3
        assert rows[1]["lm_logp"] == round((2 * ab + ba) / 3, 6)
        assert rows[2]["n_ngrams"] == 2
        assert rows[2]["lm_logp"] == round((ab + ba) / 2, 6)
        assert rows[3]["n_ngrams"] == 0 and rows[3]["lm_logp"] is None
        assert rows[4]["n_ngrams"] == 0 and rows[4]["lm_logp"] is None
        assert len(rows) == 4

    def test_gibberish_scores_below_repetition(self, spark):
        """The quality-filter property: within one corpus, a document
        of corpus-typical repeated text outscores a one-off shuffle of
        rare junk."""
        from jaccard_join_duckdb_spark.functions.text import lm_score

        common = "the cat sat on the mat"
        docs = [(i, common) for i in range(10)]
        docs.append((99, "zq xv jk wp mn bb"))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        rows = {r["doc_id"]: r["lm_logp"]
                for r in lm_score(df, "doc_id", "text").collect()}
        assert rows[0] > rows[99]

    def test_oracle_parity(self, spark):
        from jaccard_join_duckdb_spark.functions.text import lm_score
        from jaccard_join_duckdb_spark.plans.oracle_ext import lm_score_sql

        data = [
            (1, "alpha beta gamma alpha beta"),
            (2, "beta gamma delta"),
            (3, "alpha"),
            (4, None),
            (5, "  alpha   BETA\tgamma  "),
        ]
        df = spark.createDataFrame(data, ["doc_id", "text"])
        got = sorted(
            (r["doc_id"], r["n_ngrams"], r["lm_logp"])
            for r in lm_score(df, "doc_id", "text", n=3, k=0.5).collect()
        )
        con = duckdb_connect()
        con.execute(
            "create table t (doc_id integer, text varchar)"
        )
        con.executemany("insert into t values (?, ?)", data)
        want = sorted(
            (int(r[0]), int(r[1]), r[2])
            for r in con.execute(
                lm_score_sql("t", "doc_id", "text", n=3, k=0.5)
            ).fetchall()
        )
        assert got == want

    def test_stupid_backoff_crafted(self, spark):
        """Hand-computed stupid backoff (Brants et al. 2007) on the
        same 4-doc corpus as the add-1 test.

        Seen bigram: S("a b") = c("a b")/c("a") = 3/3;
        S("b a") = 1/3; S("b c") = 1/3. No unseen bigrams occur in
        the corpus itself, so doc scores are pure seen-branch means.
        """
        import math

        from jaccard_join_duckdb_spark.functions.text import lm_score

        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c"), (3, "x"), (4, "")],
            ["doc_id", "text"],
        )
        rows = {
            r["doc_id"]: r
            for r in lm_score(
                df, "doc_id", "text", smoothing="stupid_backoff"
            ).collect()
        }
        ab, ba = math.log(3 / 3), math.log(1 / 3)
        assert rows[1]["lm_logp"] == round((2 * ab + ba) / 3, 6)
        assert rows[2]["lm_logp"] == round((ab + ba) / 2, 6)
        assert rows[3]["n_ngrams"] == 0 and rows[3]["lm_logp"] is None

    def test_stupid_backoff_oov_backoff_branch(self, spark):
        """Held-out scoring hits the backoff branch.

        Corpus "a b a b" + "a b": N=6 tokens, V=2, c(a)=3,
        c("a b")=3. Held-out doc "a b z" has bigrams "a b"
        (seen: S = 3/3) and "b z" (unseen, z OOV:
        S = 0.4 * (c(z)+1)/(N+V) = 0.4 * 1/8).
        """
        import math

        from jaccard_join_duckdb_spark.functions.text import (
            lm_score_apply,
            train_ngram_lm,
        )

        corpus = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b")], ["doc_id", "text"]
        )
        lm = train_ngram_lm(
            corpus, "doc_id", "text", smoothing="stupid_backoff"
        )
        held_out = spark.createDataFrame([(9, "a b z")], ["doc_id", "text"])
        r = lm_score_apply(lm, held_out, "doc_id", "text").collect()[0]
        want = round((math.log(3 / 3) + math.log(0.4 * 1 / 8)) / 2, 6)
        assert r["n_ngrams"] == 2
        assert r["lm_logp"] == want

    def test_stupid_backoff_oracle_parity(self, spark):
        from jaccard_join_duckdb_spark.functions.text import lm_score
        from jaccard_join_duckdb_spark.plans.oracle_ext import lm_score_sql

        data = [
            (1, "alpha beta gamma alpha beta"),
            (2, "beta gamma delta"),
            (3, "alpha"),
            (4, None),
            (5, "zeta zeta  ALPHA beta"),
        ]
        df = spark.createDataFrame(data, ["doc_id", "text"])
        got = sorted(
            (r["doc_id"], r["n_ngrams"], r["lm_logp"])
            for r in lm_score(
                df, "doc_id", "text", smoothing="stupid_backoff", alpha=0.3
            ).collect()
        )
        con = duckdb_connect()
        con.execute("create table t (doc_id integer, text varchar)")
        con.executemany("insert into t values (?, ?)", data)
        want = sorted(
            (int(r[0]), int(r[1]), r[2])
            for r in con.execute(
                lm_score_sql(
                    "t", "doc_id", "text",
                    smoothing="stupid_backoff", alpha=0.3,
                )
            ).fetchall()
        )
        assert got == want

    def test_backoff_rejects_non_bigram(self, spark):
        import pytest as _pytest

        from jaccard_join_duckdb_spark.functions.text import train_ngram_lm

        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        with _pytest.raises(ValueError, match="n=2"):
            train_ngram_lm(df, "doc_id", "text", n=3,
                           smoothing="stupid_backoff")


class TestPerplexityBuckets:
    def test_tertile_labels_and_unscored(self, spark):
        from jaccard_join_duckdb_spark.functions.text import (
            perplexity_buckets,
        )

        # six scoreable docs with distinct LM scores -> 2 head /
        # 2 middle / 2 tail by the tertile cutoffs; the repetitive
        # bigram-heavy docs score highest. One 1-token doc -> unscored.
        rows = [
            (1, "a a a a a a a a"),        # all "a a" bigrams: highest
            (2, "a a a a a a b c"),
            (3, "a a a a b c d e"),
            (4, "a a b c d e f g"),
            (5, "b c d e f g h i"),
            (6, "j k l m n o p q"),        # all-rare bigrams: lowest
            (7, "solo"),                   # no bigram -> unscored
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            r.doc_id: (r.bucket, r.lm_logp)
            for r in perplexity_buckets(df, "doc_id", "text").collect()
        }
        assert got[7][0] == "unscored" and got[7][1] is None
        buckets = [got[i][0] for i in range(1, 7)]
        assert buckets.count("head") == 2
        assert buckets.count("middle") == 2
        assert buckets.count("tail") == 2
        # ordering: scores are monotone down the list
        scores = [got[i][1] for i in range(1, 7)]
        assert scores == sorted(scores, reverse=True)
        assert buckets == ["head", "head", "middle", "middle",
                           "tail", "tail"]


class TestDsirWeights:
    def test_targetlike_source_doc_wins(self, spark):
        from jaccard_join_duckdb_spark.functions.text import dsir_weights

        target = spark.createDataFrame(
            [(100 + i, "the cat sat on the mat") for i in range(4)],
            ["doc_id", "text"],
        )
        source = spark.createDataFrame(
            [
                (1, "the cat sat on the mat"),      # looks like target
                (2, "stock market index futures"),  # does not
                (3, "x"),                           # unscoreable
            ],
            ["doc_id", "text"],
        )
        got = {
            r.doc_id: r
            for r in dsir_weights(target, source, "doc_id", "text").collect()
        }
        assert set(got) == {1, 2, 3}
        assert got[1].logw is not None and got[2].logw is not None
        assert got[1].logw > got[2].logw      # importance ranks right
        assert got[3].n_ngrams == 0 and got[3].logw is None


class TestGopherRules:
    def test_named_rules_fire_individually(self, spark):
        from jaccard_join_duckdb_spark.functions.text import gopher_rules

        prose = ("the cat and the dog have been friends that live with "
                 "people of this town and they like to be outside " * 3)
        rows = [
            (1, prose),                               # passes everything
            (2, "short text"),                        # fails word count
            (3, "## " * 30 + prose),                  # fails symbol ratio
            (4, "- item\n- item\n- item"),            # bullets + words
            (5, ("zzzzzzzzzzzzzzzz " * 60).strip()),  # mean len + stopwords
            (6, prose + "\nwait...\nhm...\nok..."),   # ellipsis lines
            (7, ("12 34 " * 40) + "the be to of"),    # fails alpha frac
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: r for r in
               gopher_rules(df, "doc_id", "text").collect()}
        assert got[1].passes
        assert not got[2].pass_words and not got[2].passes
        assert not got[3].pass_symbols
        assert not got[4].pass_bullets and got[4].bullet_line_frac == 1.0
        assert not got[5].pass_mean_len and not got[5].pass_stops
        assert not got[6].pass_ellipsis
        assert got[6].ellipsis_line_frac == 0.75
        assert not got[7].pass_alpha and got[7].stop_hits == 4

    def test_empty_text_all_zero_no_nan(self, spark):
        from jaccard_join_duckdb_spark.functions.text import gopher_rules

        df = spark.createDataFrame([(1, "")], ["doc_id", "text"])
        r = gopher_rules(df, "doc_id", "text").collect()[0]
        assert r.n_words == 0 and r.mean_word_len == 0.0
        assert not r.passes


class TestC4Rules:
    def test_line_and_page_rules(self, spark):
        from jaccard_join_duckdb_spark.functions.text import c4_rules

        df = spark.createDataFrame(
            [
                # 3 good sentences + a short line + an unpunctuated line
                (1, "This is a good first sentence.\ntiny.\n"
                    "Another full sentence with words!\n"
                    "A third one right here ok?\nno punct"),
                # javascript line dropped; still 3 sentences left
                (2, "Please enable javascript to continue now.\n"
                    "Real content sentence with many words.\n"
                    "More content sentences right over here.\n"
                    "Third full sentence is here now."),
                # page flags
                (3, "lorem ipsum dolor sit amet is filler.\n"
                    "Good sentence number two right here.\n"
                    "Good sentence number three right here."),
                (4, "Code page with brace { inside it.\n"
                    "Good sentence number two right here.\n"
                    "Good sentence number three right here."),
                # quote-terminated line counts as terminal punctuation
                (5, 'He said the loud words"\n'
                    "Second full sentence with words.\n"
                    "Third full sentence with words."),
            ],
            ["doc_id", "text"],
        )
        rows = {r["doc_id"]: r for r in c4_rules(df, "doc_id", "text").collect()}
        assert rows[1]["n_kept_lines"] == 3
        assert rows[1]["n_sentences"] == 3
        assert rows[1]["passes"]
        assert rows[2]["n_kept_lines"] == 3  # js line dropped
        assert rows[2]["passes"]
        assert rows[3]["has_lorem_ipsum"] and not rows[3]["passes"]
        assert rows[4]["has_curly_brace"] and not rows[4]["passes"]
        # the quote line is kept but contributes no [.!?] run
        assert rows[5]["n_kept_lines"] == 3
        assert rows[5]["n_sentences"] == 2
        assert not rows[5]["passes"]

    def test_empty_and_null(self, spark):
        from jaccard_join_duckdb_spark.functions.text import c4_rules

        df = spark.createDataFrame(
            [(1, ""), (2, None)], "doc_id long, text string"
        )
        for r in c4_rules(df, "doc_id", "text").collect():
            assert r["n_kept_lines"] == 0
            assert r["clean_text"] == ""
            assert not r["passes"]

    def test_duckdb_parity_crafted(self, spark):
        import pandas as pd

        from jaccard_join_duckdb_spark.functions.text import c4_rules
        from jaccard_join_duckdb_spark.plans import oracle_ext as oe

        rows = [
            (1, "Good sentence one lives here.\nshort.\n"
                "Second good sentence with words!\nThird one right here ok?"),
            (2, "lorem ipsum dolor sit amet.\ncode { x }\n"
                "Please enable javascript now friend."),
            (3, ""), (4, None),
        ]
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        sdf = spark.createDataFrame(pdf)
        con = duckdb_connect()
        con.register("docs", pdf)
        a = (
            c4_rules(sdf, "doc_id", "text")
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        b = (
            con.sql(oe.c4_rules_sql("docs", "doc_id", "text"))
            .df().sort_values("doc_id").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            a[sorted(a.columns)], b[sorted(b.columns)], check_dtype=False
        )


class TestBuildVocab:
    ROWS = [
        (1, "the cat and the dog"),
        (2, "the cat ran"),
        (3, "a dog and a zebra the"),
        (4, None),
        (5, ""),
    ]
    # counts: the=4(3 docs), and=2(2), cat=2(2), dog=2(2), a=2(1),
    #         ran=1(1), zebra=1(1)  -> total 14

    def test_rank_counts_and_coverage(self, spark):
        from jaccard_join_duckdb_spark.functions.text import build_vocab

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        rows = sorted(
            build_vocab(df, "doc_id", "text", top_k=4).collect(),
            key=lambda r: r["vocab_rank"],
        )
        assert [(r["vocab_rank"], r["token"], r["n_occ"], r["n_docs"])
                for r in rows] == [
            (1, "the", 4, 3),
            (2, "a", 2, 1),
            (3, "and", 2, 2),
            (4, "cat", 2, 2),
        ]
        assert rows[0]["cum_frac"] == round(4 / 14, 6)
        assert rows[3]["cum_frac"] == round(10 / 14, 6)

    def test_rank_is_dense_and_total_order(self, spark):
        from jaccard_join_duckdb_spark.functions.text import build_vocab

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        rows = sorted(
            build_vocab(df, "doc_id", "text", top_k=1000).collect(),
            key=lambda r: r["vocab_rank"],
        )
        assert [r["vocab_rank"] for r in rows] == list(
            range(1, len(rows) + 1)
        )
        key = [(-r["n_occ"], r["token"]) for r in rows]
        assert key == sorted(key)
        assert rows[-1]["cum_frac"] == 1.0

    def test_no_single_partition_exchange_over_rows(self, spark):
        """The vocabulary rank must not funnel token rows through one
        task: any SinglePartition exchange in the plan must be fed by
        an Aggregate (the tiny per-(count, prefix) offset table)."""
        import io
        import re
        from contextlib import redirect_stdout

        from jaccard_join_duckdb_spark.functions.text import build_vocab

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        buf = io.StringIO()
        with redirect_stdout(buf):
            build_vocab(df, "doc_id", "text").explain("formatted")
        txt = buf.getvalue()
        for m in re.finditer(
            r"\((\d+)\) Exchange[^\n]*\nInput[^\n]*\n"
            r"Arguments: SinglePartition", txt
        ):
            idx = int(m.group(1))
            assert re.search(rf"\({idx - 1}\) (\w*Aggregate)\b", txt), (
                "row-bearing SinglePartition exchange in build_vocab plan"
            )

    def test_validation(self, spark):
        import pytest as _pytest

        from jaccard_join_duckdb_spark.functions.text import build_vocab

        with _pytest.raises(ValueError):
            build_vocab(None, "doc_id", "text", top_k=0)

    def test_duckdb_parity_crafted(self, spark):
        import pandas as pd

        from jaccard_join_duckdb_spark.functions.text import build_vocab
        from jaccard_join_duckdb_spark.plans import oracle_ext as oe

        pdf = pd.DataFrame(self.ROWS, columns=["doc_id", "text"])
        sdf = spark.createDataFrame(pdf.astype({"doc_id": "int64"}))
        con = duckdb_connect()
        con.register("docs", pdf)
        a = (
            build_vocab(sdf, "doc_id", "text", top_k=5)
            .toPandas().sort_values("vocab_rank").reset_index(drop=True)
        )
        b = (
            con.sql(oe.build_vocab_sql("docs", "doc_id", "text", top_k=5))
            .df().sort_values("vocab_rank").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            a[sorted(a.columns)], b[sorted(b.columns)], check_dtype=False
        )
