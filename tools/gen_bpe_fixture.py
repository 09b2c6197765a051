"""Regenerate the BPE token-count oracle fixture.

``pack_stats_bpe``'s encode step is an iterative-merge pandas UDF —
not one SQL statement — so its DuckDB twin instead JOINS a
pre-encoded fixture: ``(text_md5, n_bpe_tokens)`` for every distinct
document text across the test scale factors, counts produced by the
pure-Python reference encoder that ``tests/test_bpe.py`` pins
token-for-token against the Spark kernel. The join key is
``md5(text)`` (engine-identical hex in Spark, DuckDB, and hashlib),
so the fixture is scale-factor-agnostic and survives doc_id reshuffles
as long as the texts themselves are unchanged. Usage::

    python tools/gen_bpe_fixture.py [sf_dir ...]

Writes ``jaccard_join_duckdb_spark/data/bpe_counts_md5.parquet``.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jaccard_join_duckdb_spark.functions.bpe import (  # noqa: E402
    bpe_token_count,
    default_merges,
)
from jaccard_join_duckdb_spark.session import duckdb_connect  # noqa: E402

DEFAULT_SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]
FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "jaccard_join_duckdb_spark", "data", "bpe_counts_md5.parquet",
)


def main() -> int:
    sf_dirs = sys.argv[1:] or DEFAULT_SF_DIRS
    texts: set[str] = set()
    con = duckdb_connect()
    for d in sf_dirs:
        path = os.path.join(d, "documents.parquet")
        for (t,) in con.sql(
            f"select distinct text from read_parquet('{path}') "
            "where text is not null"
        ).fetchall():
            texts.add(t)
    merges = default_merges()
    rows = sorted(
        (hashlib.md5(t.encode("utf-8")).hexdigest(), bpe_token_count(t, merges))
        for t in texts
    )
    table = pa.table(
        {
            "text_md5": pa.array([r[0] for r in rows], pa.string()),
            "n_bpe_tokens": pa.array([r[1] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, FIXTURE_PATH)
    print(f"wrote {len(rows)} rows to {FIXTURE_PATH}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
