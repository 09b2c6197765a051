"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark AND its
``oracle_sql()`` twin on DuckDB against the same sf parquet tables,
then compares row count, sorted column names, and the full
(row-sorted) value multiset. Usage::

    python tools/check_entry.py [sf_dir] [query ...]

Exit code 0 iff every compared query matches exactly.
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SF_DIR", "/root/testdata/sf0.01"
    )
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from jaccard_join_duckdb_spark import get_spark
    from jaccard_join_duckdb_spark.session import duckdb_connect

    spark = get_spark(
        app_name="check-entry",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.session.timeZone": "UTC",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb_connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
        )

    # The driver grades queries(); the demoted variants in
    # extra_queries() keep full hash coverage HERE (plus pytest).
    qs = {**e.queries(), **getattr(e, "extra_queries", dict)()}
    oracles = {**e.oracle_sql(), **getattr(e, "extra_oracle_sql", dict)()}
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"  {name}: rows-only ({len(srows)} rows, {t_spark:.1f}s)")
            continue
        t0 = time.time()
        cur = con.execute(oracles[name])
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        t_duck = time.time() - t0

        status = []
        if len(srows) != len(drows):
            status.append(f"ROWS {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            status.append(f"SCHEMA {sorted(scols)} vs {sorted(dcols)}")
        if not status:
            sc, dc = _canon(srows, scols), _canon(drows, dcols)
            if sc != dc:
                diffs = [(a, b) for a, b in zip(sc, dc) if a != b]
                status.append(f"VALUES {len(diffs)} differing rows; first: "
                              f"{diffs[0] if diffs else '(order)'}")
        tag = "OK " if not status else "FAIL"
        print(f"  [{tag}] {name}: {len(srows)} rows "
              f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s) "
              + "; ".join(status))
        if status:
            failures.append(name)

    print(f"\n{'ALL MATCH' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
