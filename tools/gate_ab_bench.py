"""Three-arm interleaved A/B for the broadcast-verify gate at the
mid-threshold refscale cells (VERDICT r10 #1).

Round 10 re-keyed the gate's decision ratio onto TOKEN rows
(threshold 40) with calibration points only at t <= 0.4 and on the
dense sf0.1 corpus; the refscale db100/db50 ws t=0.5 cells then
regressed 1.6-1.7x at min inside that change window, which could be
either the re-keyed gate declining a previously-won broadcast or
ambient session drift. This tool attributes it: per cell, three arms
in ONE session, interleaved and order-rotated per iteration so no arm
systematically rides a warmer JVM:

- ``forced``  — gate forced TO broadcast (ratio patched to 0): what
  the plan would cost if the decline is wrong;
- ``current`` — the round-10 decision (ratio 40 on token rows);
- ``r9``      — the round-9 decision (ratio 50 on each attach's OWN
  row count, i.e. doc rows for doc-level attaches).

Per arm it records min/all walls and the output row count (must be
identical across arms — the gate is plan-only). One JSON line per
cell, plus a verdict line: which arm's min is best and whether the
current decision is within ``--tol`` (default 10%) of it.

Usage::

    python tools/gate_ab_bench.py [--iters 3] [--cell SUBSTR]

Exit 0 iff every cell's rows are identical across arms AND the
current decision is measured-best or within tolerance of best.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(REPO, "refscale")

# (cell, dataset, tokenizer, threshold) — the self-join grid cells
# with no round-10 calibration coverage (VERDICT r10 #1).
CELLS = [
    ("db50 self ws t=0.5", "db50", "ws", 0.5),
    ("db100 self ws t=0.5", "db100", "ws", 0.5),
]


def main() -> int:
    iters = 3
    if "--iters" in sys.argv:
        iters = int(sys.argv[sys.argv.index("--iters") + 1])
    tol = 1.10
    if "--tol" in sys.argv:
        tol = float(sys.argv[sys.argv.index("--tol") + 1])
    cell_filter = None
    if "--cell" in sys.argv:
        cell_filter = sys.argv[sys.argv.index("--cell") + 1]

    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    # Pre-touch the pinned heap so timed iterations never fault
    # fresh pages (see session.py round-11 note on VM memory storms).
    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    from jaccard_join_duckdb_spark import WhitespaceTokzr, get_spark
    from jaccard_join_duckdb_spark.operators import jaccard as J

    spark = get_spark(app_name="gate-ab-bench")
    spark.sparkContext.setLogLevel("ERROR")

    real_attach = J._verify_attach
    real_ratio = J._BROADCAST_VERIFY_MIN_RATIO

    def set_arm(arm: str) -> None:
        """Patch the gate for one arm; 'current' restores stock."""
        J._verify_attach = real_attach
        J._BROADCAST_VERIFY_MIN_RATIO = real_ratio
        if arm == "forced":
            # ratio 0: every size-cap-clearing attach broadcasts
            # (and the sparse fast-decline can never trigger)
            J._BROADCAST_VERIFY_MIN_RATIO = 0
        elif arm == "r9":
            # round-9 decision: threshold 50 on the attach's OWN
            # rows (doc rows for the doc-level attach tables)
            J._BROADCAST_VERIFY_MIN_RATIO = 50

            def attach_r9(per_doc, n_rows, *, token_level=False,
                          bound=None, decide_rows=None):
                return real_attach(per_doc, n_rows,
                                   token_level=token_level, bound=bound,
                                   decide_rows=None)

            J._verify_attach = attach_r9

    def run(dataset: str, t: float, arm: str) -> tuple[float, int]:
        set_arm(arm)
        df = spark.read.parquet(os.path.join(DATA, f"{dataset}.parquet"))
        t0 = time.time()
        out = J.jaccard_self_join(df, "id", "val", WhitespaceTokzr(), t)
        rows = out.count()
        wall = time.time() - t0
        spark.catalog.clearCache()
        return wall, rows

    # untimed warm-up (bench.py discipline)
    run("db10", 0.5, "current")

    ok = True
    arms = ["forced", "current", "r9"]
    for cell, dataset, _tok, t in CELLS:
        if cell_filter and cell_filter not in cell:
            continue
        walls: dict[str, list[float]] = {a: [] for a in arms}
        rows_seen: dict[str, int] = {}
        for i in range(iters):
            order = arms[i % len(arms):] + arms[: i % len(arms)]
            for arm in order:
                w, r = run(dataset, t, arm)
                walls[arm].append(round(w, 3))
                rows_seen.setdefault(arm, r)
                if rows_seen[arm] != r:
                    ok = False
        set_arm("current")
        mins = {a: min(ws) for a, ws in walls.items()}
        best = min(mins, key=mins.get)
        rows_equal = len(set(rows_seen.values())) == 1
        current_ok = mins["current"] <= mins[best] * tol
        if not rows_equal or not current_ok:
            ok = False
        print(json.dumps({
            "cell": cell, "iters": iters, "rows": rows_seen,
            "rows_equal": rows_equal,
            "walls": walls, "mins": mins, "best_arm": best,
            "current_within_tol": current_ok,
        }), flush=True)

    set_arm("current")
    spark.stop()
    print(json.dumps({"metric": "gate_ab_ok", "value": ok}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
