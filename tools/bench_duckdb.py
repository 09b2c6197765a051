"""Time the DuckDB oracle SQL for the bench query set — the
same-data, same-machine reference-engine yardstick.

``bench.py`` times our Spark plans; this times the semantically
identical DuckDB SQL (``__spark_entry__.oracle_sql()``) on the same
parquet tables, so "matches-or-beats the reference's single-node
throughput at the same data scale" is a direct, reproducible
comparison (the reference delegates all execution to DuckDB, so
DuckDB-running-the-same-queries IS the reference engine's time).

Each query runs in a fresh subprocess with a wall-clock timeout
(default 900 s; brute-force oracles on dense corpora can be
quadratic), and is reported as the best of ``$BENCH_DUCKDB_RUNS``
(default 2) runs. Prints ONE JSON line mirroring bench.py::

    {"metric": "duckdb_oracle_wall", "value": N, "unit": "sec",
     "queries": {...}, "sf": ...}

Usage: python tools/bench_duckdb.py [sf_dir]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_entry import TABLES  # noqa: E402

TIMEOUT_S = float(os.environ.get("BENCH_DUCKDB_TIMEOUT", "900"))
RUNS = int(os.environ.get("BENCH_DUCKDB_RUNS", "2"))


def _run_one(sql: str, sf_dir: str, out) -> None:
    from jaccard_join_duckdb_spark.session import duckdb_connect

    con = duckdb_connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
    t0 = time.time()
    con.execute(sql).fetchall()
    out.put(time.time() - t0)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    import __spark_entry__ as entry
    from bench import BENCH_QUERIES

    oracles = {
        **entry.oracle_sql(),
        **getattr(entry, "extra_oracle_sql", dict)(),
    }
    timings: dict[str, float | str] = {}
    ctx = mp.get_context("spawn")
    for name in BENCH_QUERIES:
        if name not in oracles:
            timings[name] = "no-oracle"
            continue
        best: float | None = None
        for _ in range(RUNS):
            q: mp.Queue = ctx.Queue()
            p = ctx.Process(target=_run_one, args=(oracles[name], sf_dir, q))
            p.start()
            p.join(TIMEOUT_S)
            if p.is_alive():
                p.terminate()
                p.join()
                best = None
                break
            dt = q.get()
            best = dt if best is None else min(best, dt)
        timings[name] = (
            round(best, 3) if best is not None else f"timeout>{TIMEOUT_S:g}s"
        )
        print(f"# {name}: {timings[name]}", file=sys.stderr)

    total = round(
        sum(v for v in timings.values() if isinstance(v, float)), 3
    )
    print(json.dumps({
        "metric": "duckdb_oracle_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
