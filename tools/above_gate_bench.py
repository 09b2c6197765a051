"""Above-gate evidence for the verification broadcast gate.

Round-8 verdict #3/#7: the `_verify_attach` fallback (doc count over
``_MAX_BROADCAST_VERIFY_DOCS`` -> keep the shuffle join) was reasoned
but never exercised on a corpus that actually clears the cap. This
tool generates a 260K-record person-profile corpus (same generator as
the refscale grid — tools/gen_refscale.py, deterministic seed) in a
temp dir, runs the whitespace self-join at t=0.8 and t=0.5, and
exit-gates on:

1. the limit-bounded probe DECLINES (returns cap+1 after scanning at
   most cap+1 rows — no full count on the corpus-scale frame);
2. row counts equal the same-machine DuckDB twin (plans/ref_sql.py)
   at default conf, where — the engine's gate having abstained — the
   broadcast decision belongs to Catalyst's OWN stats (its
   parquet-derived estimates still choose broadcast at 260K docs and
   win; at true corpus scale those estimates exceed the threshold and
   it chooses shuffle — both recorded);
3. with `autoBroadcastJoinThreshold=-1` (emulating the 100 TB
   estimate regime), the verification attach joins stay SORT-MERGE in
   the executed plan and the row count is unchanged — the above-gate
   shuffle fallback exercised on a real 260K-doc corpus;
4. whether AQE flagged/split a skewed shuffle is RECORDED (skew is
   data-dependent at this size, not gated).

Prints one JSON line per cell plus a summary line; exit 0 iff every
gate holds. Record results in BENCHMARKS.md.

Usage::

    python tools/above_gate_bench.py [n_docs]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_refscale import generate  # noqa: E402


def _attach_join_lines(plan: str, node: str) -> list[str]:
    """Plan lines where ``node`` joins on a verification attach key
    (lid/rid) — the same discrimination tests/test_jaccard.py uses."""
    return [
        ln for ln in plan.splitlines()
        if node in ln and ("[lid#" in ln or "[rid#" in ln)
    ]


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 260_000

    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    # Pre-touch the pinned heap so timed iterations never fault
    # fresh pages (see session.py round-11 note on VM memory storms).
    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    from jaccard_join_duckdb_spark import WhitespaceTokzr, get_spark
    from jaccard_join_duckdb_spark.operators import jaccard as J
    from jaccard_join_duckdb_spark.plans import ref_sql

    cap = J._MAX_BROADCAST_VERIFY_DOCS
    if n_docs <= cap:
        print(f"n_docs {n_docs} must exceed the gate cap {cap}",
              file=sys.stderr)
        return 2

    tmp = tempfile.mkdtemp(prefix="above_gate_")
    name = f"db{n_docs // 1000}"
    generate(name, n_docs, tmp)
    path = os.path.join(tmp, f"{name}.parquet")

    spark = get_spark(
        app_name="above-gate-bench",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(path)

    ok = True
    # gate 1: the probe is bounded and declines
    t0 = time.time()
    probe = J._doc_count_probe(df)
    probe_s = round(time.time() - t0, 3)
    probe_ok = probe == cap + 1
    print(json.dumps({
        "check": "probe_declines", "probe": probe, "cap": cap,
        "probe_s": probe_s, "ok": probe_ok,
    }), flush=True)
    ok &= probe_ok

    from jaccard_join_duckdb_spark.session import duckdb_connect
    con = duckdb_connect()
    con.execute(
        f"create view {name} as select * from read_parquet('{path}')"
    )

    tok = WhitespaceTokzr()
    dd_rows_at = {}
    for t in (0.8, 0.5):
        sql = ref_sql.self_filtered_sql(
            name, "id", "val", tok, t, "l_id", "r_id"
        )
        t0 = time.time()
        dd_rows_at[t] = con.execute(
            f"select count(*) from ({sql})"
        ).fetchone()[0]
        dd_wall = round(time.time() - t0, 3)

        out = J.jaccard_self_join(df, "id", "val", tok, t)
        plan = out._jdf.queryExecution().executedPlan().toString()
        bcast = _attach_join_lines(plan, "BroadcastHashJoin")
        smj = _attach_join_lines(plan, "SortMergeJoin")
        t0 = time.time()
        rows = out.count()
        wall = round(time.time() - t0, 3)
        final = out._jdf.queryExecution().executedPlan().toString()
        skewed = final.count("skew=true")
        cell_ok = rows == dd_rows_at[t]
        print(json.dumps({
            "cell": f"{name} self ws t={t} (default conf)", "rows": rows,
            "spark_s": wall, "duckdb_s": dd_wall,
            "rows_equal": cell_ok,
            "catalyst_attach_broadcasts": len(bcast),
            "catalyst_attach_sortmerge": len(smj),
            "aqe_skewed_joins": skewed,
            "ok": cell_ok,
        }), flush=True)
        ok &= cell_ok
        spark.catalog.clearCache()

    # 100 TB estimate regime: stats-based broadcast disabled — the
    # engine's abstention is now decisive and the attach joins MUST
    # stay sort-merge, results unchanged.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for t in (0.5,):
        out = J.jaccard_self_join(df, "id", "val", tok, t)
        plan = out._jdf.queryExecution().executedPlan().toString()
        bcast = _attach_join_lines(plan, "BroadcastHashJoin")
        smj = _attach_join_lines(plan, "SortMergeJoin")
        t0 = time.time()
        rows = out.count()
        wall = round(time.time() - t0, 3)
        final = out._jdf.queryExecution().executedPlan().toString()
        skewed = final.count("skew=true")
        cell_ok = (not bcast) and bool(smj) and rows == dd_rows_at[t]
        print(json.dumps({
            "cell": f"{name} self ws t={t} (no-stats-broadcast regime)",
            "rows": rows, "spark_s": wall,
            "rows_equal": rows == dd_rows_at[t],
            "attach_broadcasts": len(bcast),
            "attach_sortmerge": len(smj),
            "aqe_skewed_joins": skewed,
            "ok": cell_ok,
        }), flush=True)
        ok &= cell_ok
        spark.catalog.clearCache()

    # Composition cell (round 10, VERDICT r9 stretch #8): the actual
    # 100 TB plan shape — the declined verification broadcast (attach
    # joins sort-merge) AND the hot-token broadcast split engaged
    # together on the same corpus-scale join. The split's broadcasts
    # are explicit hints on the dfreq side, so they fire even with
    # stats-based broadcast disabled; they key on token, never on
    # lid/rid, so the attach-join discrimination is unpolluted.
    for t in (0.5,):
        hot_thr = max(2, n_docs // 100)  # tokens in >= 1% of records
        out = J.jaccard_self_join(
            df, "id", "val", tok, t, hot_df_threshold=hot_thr
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        bcast = _attach_join_lines(plan, "BroadcastHashJoin")
        smj = _attach_join_lines(plan, "SortMergeJoin")
        split = "LeftAnti" in plan
        t0 = time.time()
        rows = out.count()
        wall = round(time.time() - t0, 3)
        final = out._jdf.queryExecution().executedPlan().toString()
        skewed = final.count("skew=true")
        cell_ok = (
            (not bcast) and bool(smj) and split and rows == dd_rows_at[t]
        )
        print(json.dumps({
            "cell": (
                f"{name} self ws t={t} "
                "(no-stats-broadcast + hot-token split)"
            ),
            "rows": rows, "spark_s": wall,
            "rows_equal": rows == dd_rows_at[t],
            "attach_broadcasts": len(bcast),
            "attach_sortmerge": len(smj),
            "hot_split_in_plan": split,
            "hot_df_threshold": hot_thr,
            "aqe_skewed_joins": skewed,
            "ok": cell_ok,
        }), flush=True)
        ok &= cell_ok
        spark.catalog.clearCache()

    # Auto-engagement cell (round 11, VERDICT r10 #6): the
    # hot_df_threshold="auto" rule keys the hot-token split on
    # max_df vs the AVERAGE shuffle partition (N/P) — "off at local
    # P=32, on at cluster P" was arithmetic until now. Exercise the
    # decision itself on cluster-shaped P: a skewed twin of the
    # corpus (30% of records gain one shared stopword-like token, so
    # max_df ≈ 0.3·n_docs clears the absolute floor) must ENGAGE the
    # split at P=4096 (plan-asserted LeftAnti + broadcast, rows equal
    # the DuckDB twin on the same skewed parquet) and must NOT engage
    # at P=32 (same data, same rule — the partitions are huge and no
    # straggler exists).
    from pyspark.sql import functions as F

    skew_path = os.path.join(tmp, f"{name}_skew.parquet")
    (
        df.withColumn(
            "val",
            F.when(
                F.pmod(F.col("id"), F.lit(10)) < 3,
                F.concat(F.col("val"), F.lit(" zqhot")),
            ).otherwise(F.col("val")),
        )
        .write.mode("overwrite")
        .parquet(skew_path)
    )
    df_skew = spark.read.parquet(skew_path)
    con.execute(
        f"create view {name}_skew as select * from "
        f"read_parquet('{skew_path}/*.parquet')"
    )
    t = 0.5
    sql = ref_sql.self_filtered_sql(
        f"{name}_skew", "id", "val", tok, t, "l_id", "r_id"
    )
    dd_skew_rows = con.execute(
        f"select count(*) from ({sql})"
    ).fetchone()[0]
    prev_p = spark.conf.get("spark.sql.shuffle.partitions")
    for p, want_split in ((4096, True), (32, False)):
        spark.conf.set("spark.sql.shuffle.partitions", str(p))
        out = J.jaccard_self_join(
            df_skew, "id", "val", tok, t, hot_df_threshold="auto"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        split = "LeftAnti" in plan
        t0 = time.time()
        rows = out.count()
        wall = round(time.time() - t0, 3)
        cell_ok = split == want_split and rows == dd_skew_rows
        print(json.dumps({
            "cell": f"{name}_skew self ws t={t} (auto, P={p})",
            "rows": rows, "spark_s": wall,
            "rows_equal": rows == dd_skew_rows,
            "hot_split_engaged": split,
            "hot_split_expected": want_split,
            "ok": cell_ok,
        }), flush=True)
        ok &= cell_ok
        spark.catalog.clearCache()
    spark.conf.set("spark.sql.shuffle.partitions", prev_p)

    con.close()
    spark.stop()
    print(json.dumps({
        "metric": "above_gate_fallback_ok", "value": bool(ok),
        "n_docs": n_docs, "cap": cap,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
