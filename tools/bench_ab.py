"""Bench-context interleaved A/B (round 12, VERDICT r11 #7).

Round 11 shipped three changes whose SOLO back-to-back A/B wins
shrank or inverted in full-bench context (minhash fuse: solo
3.54→3.12 s, driver ground truth 0.68×). The difference is ambient
state a solo loop never sees: dozens of live plans on the session,
JIT/code-cache pressure, cache churn from the other 74 queries. This
tool measures a code-path toggle INSIDE the full bench run: every
iteration executes the whole bench list (seeded order rotation, the
bench.py discipline), and each TARGET query runs twice per iteration
— once per arm, arm order alternating by iteration — so both arms
sample the identical ambient context. Decision rule: keep the arm
that wins min-of-n here, not in a solo loop.

Arms are module-attribute patches applied around the target call
only (the rest of the list always runs arm A = the shipped default).

Usage::

    python tools/bench_ab.py <sf_dir> --queries q1,q2 \
        --arm-a pkg.mod:ATTR=<json> [--arm-a ...] \
        --arm-b pkg.mod:ATTR=<json> [--arm-b ...] \
        [--iters N] [--skip-nontargets]

``--skip-nontargets`` drops the non-target queries from the TIMED
iterations (warm-up still runs the full list) — a cheaper
approximation when the full-context run is too slow to iterate on.
"""

from __future__ import annotations

import importlib
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _parse_patch(spec: str):
    modattr, val = spec.split("=", 1)
    mod, attr = modattr.split(":", 1)
    return mod, attr, json.loads(val)


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = argv[0]
    targets: list[str] = []
    arm_a: list[tuple] = []
    arm_b: list[tuple] = []
    iters = 3
    skip_nontargets = False
    i = 1
    while i < len(argv):
        a = argv[i]
        if a == "--queries":
            targets = argv[i + 1].split(",")
            i += 2
        elif a == "--arm-a":
            arm_a.append(_parse_patch(argv[i + 1]))
            i += 2
        elif a == "--arm-b":
            arm_b.append(_parse_patch(argv[i + 1]))
            i += 2
        elif a == "--iters":
            iters = int(argv[i + 1])
            i += 2
        elif a == "--skip-nontargets":
            skip_nontargets = True
            i += 1
        else:
            raise SystemExit(f"unknown arg {a!r}")
    if not targets:
        raise SystemExit("--queries is required")
    if iters < 1:
        raise SystemExit(f"--iters must be >= 1 (got {iters})")

    import bench

    # Only bench.BENCH_QUERIES are timed, so a target must be one of them.
    names = list(bench.BENCH_QUERIES)
    for t in targets:
        if t not in names:
            raise SystemExit(f"{t!r} is not a timed query in bench.BENCH_QUERIES")

    import __spark_entry__ as entry
    from jaccard_join_duckdb_spark import get_spark

    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    spark = get_spark(
        app_name="jjds-bench-ab",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.session.timeZone": "UTC",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**entry.queries(), **getattr(entry, "extra_queries", dict)()}

    def apply(patches):
        saved = []
        for mod, attr, val in patches:
            m = importlib.import_module(mod)
            saved.append((m, attr, getattr(m, attr)))
            setattr(m, attr, val)
        return saved

    def restore(saved):
        for m, attr, val in saved:
            setattr(m, attr, val)

    def run(name: str) -> tuple[float, int]:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n = qs[name](spark, sf_dir).count()
        return time.perf_counter() - t0, n

    # Untimed warm-up: the full list under arm A, plus each target
    # under arm B (so both arms' plan shapes pay their codegen JIT
    # before any clock starts).
    saved = apply(arm_a)
    try:
        for name in names:
            run(name)
    finally:
        restore(saved)
    saved = apply(arm_b)
    try:
        for t in targets:
            run(t)
    finally:
        restore(saved)

    best: dict[tuple[str, str], float] = {}
    rows: dict[tuple[str, str], int] = {}
    for it in range(iters):
        order = names[:]
        random.Random(it).shuffle(order)
        arms = [("A", arm_a), ("B", arm_b)]
        if it % 2:
            arms.reverse()
        for name in order:
            if name in targets:
                for label, patches in arms:
                    saved = apply(patches)
                    try:
                        dt, n = run(name)
                    finally:
                        restore(saved)
                    key = (name, label)
                    best[key] = min(best.get(key, dt), dt)
                    rows[key] = n
            elif not skip_nontargets:
                saved = apply(arm_a)
                try:
                    run(name)
                finally:
                    restore(saved)
        print(f"# iteration {it + 1}/{iters} done", file=sys.stderr)

    print(f"{'query':30s} {'armA':>8s} {'armB':>8s}  verdict")
    for t in targets:
        a, b = best[(t, "A")], best[(t, "B")]
        na, nb = rows[(t, "A")], rows[(t, "B")]
        flag = "" if na == nb else f"  ROWS DIFFER {na} vs {nb}!"
        verdict = "A wins" if a < b else "B wins"
        print(f"{t:30s} {a:8.3f} {b:8.3f}  {verdict} ({a / b:.2f}x){flag}")


if __name__ == "__main__":
    main()
