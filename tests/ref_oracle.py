"""Run the actual reference implementation (/root/reference, DuckDB) on a
small corpus and return its pair sets, for direct differential fuzzing.

The reference is the ground truth for *algorithm quirks* (lexicographic
l_id ordering, dedup-before-lowercase, un-ceiled tie bounds, the inner
path's index-prefix tie miss): on any corpus where our filtered output
disagrees with brute force, the question "is the disagreement faithful?"
is answered by running the reference itself. DuckDB executes these
sub-millisecond corpora instantly, so the oracle is cheap enough to call
per hypothesis example.

Guarded: if /root/reference or duckdb is unavailable (e.g. a stripped CI
container), `available()` returns False and callers skip the exactness
assertion, falling back to the universal `filtered <= brute` contract.
"""

import sys

from jaccard_join_duckdb_spark.session import duckdb_connect

_REF = "/root/reference"


def available():
    try:
        import duckdb  # noqa: F401
    except ImportError:
        return False
    import os

    return os.path.isdir(os.path.join(_REF, "py_duckdb"))


def _ensure_path():
    if _REF not in sys.path:
        sys.path.insert(0, _REF)


def _connect_with(tables):
    """tables: dict name -> list[(id, val)]."""
    con = duckdb_connect()
    for name, rows in tables.items():
        con.execute(f"CREATE TABLE {name}(id BIGINT, val VARCHAR)")
        con.executemany(f"INSERT INTO {name} VALUES (?, ?)", list(rows))
    return con


def _ref_tokenizer(spec):
    """spec: (class_name, args_tuple, kwargs_dict) — the same spec the
    fuzz tests use to build OUR tokenizer, applied to the reference's
    class of the same name (the public API surfaces match by design)."""
    _ensure_path()
    from py_duckdb.similarity_join import tokenizers as rt

    name, args, kwargs = spec
    # Our tokenizers accept distinct_rows (a Spark-side fast-path
    # hint); the reference has no such notion — strip it.
    kwargs = {k: v for k, v in kwargs.items() if k != "distinct_rows"}
    if name == "WordsTokzr":
        # Historical class, absent from the current reference package.
        # For a single non-meta character pattern it is semantically
        # identical to DelimiterTokzr with that one separator (regex
        # 'c' == class '[c]'), which lets the port be fuzzed against
        # the real reference implementation.
        (pattern,) = args
        assert len(pattern) == 1, "fuzz mapping only for 1-char patterns"
        return rt.DelimiterTokzr([pattern], **kwargs)
    return getattr(rt, name)(*args, **kwargs)


def _fetch_named_pairs(con, table):
    """{(l value, r value)} resolved by output column NAME (after a
    side-swap the reference's physical column order is (r, l))."""
    cur = con.execute(f"SELECT * FROM {table}")
    cols = [d[0] for d in cur.description]
    li = next(i for i, c in enumerate(cols) if c.startswith("l_"))
    ri = next(i for i, c in enumerate(cols) if c.startswith("r_"))
    return {(row[li], row[ri]) for row in cur.fetchall()}


def self_join_pairs(texts, tok_spec, t):
    """(filtered, brute) unordered-pair sets from the reference self-join."""
    _ensure_path()
    from py_duckdb.similarity_join import (
        jaccard_join,
        jaccard_join_brute_force,
    )

    con = _connect_with({"tab": list(enumerate(texts))})
    jaccard_join(
        con, "tab", None, "id", None, "val", None,
        _ref_tokenizer(tok_spec), t, "filt_out",
    )
    jaccard_join_brute_force(
        con, "tab", None, "id", None, "val", None,
        _ref_tokenizer(tok_spec), t, "brute_out",
    )
    canon = lambda ps: {tuple(sorted(p, key=str)) for p in ps}
    return (
        canon(_fetch_named_pairs(con, "filt_out")),
        canon(_fetch_named_pairs(con, "brute_out")),
    )


def inner_join_pairs(l_texts, r_texts, tok_spec, t):
    """(filtered, brute) directed (l, r) pair sets from the reference
    inner join."""
    _ensure_path()
    from py_duckdb.similarity_join import (
        jaccard_join,
        jaccard_join_brute_force,
    )

    con = _connect_with(
        {"ltab": list(enumerate(l_texts)), "rtab": list(enumerate(r_texts))}
    )
    jaccard_join(
        con, "ltab", "rtab", "id", "id", "val", "val",
        _ref_tokenizer(tok_spec), t, "filt_out",
    )
    jaccard_join_brute_force(
        con, "ltab", "rtab", "id", "id", "val", "val",
        _ref_tokenizer(tok_spec), t, "brute_out",
    )
    return (
        _fetch_named_pairs(con, "filt_out"),
        _fetch_named_pairs(con, "brute_out"),
    )
