"""Similarity-join benchmark: one public join call per sample.

Usage::

    python3 perfbench/run.py --workload self-5g-t03 --seed 1 --seconds 12 --trace 0

Each run generates its workload's corpus from ``--seed``, starts a
host-sized Spark session, runs two untimed warm-up joins and then
times join calls for ``--seconds``, at least three, each from the call
to all pairs collected on the driver. Afterwards the reference pipeline
runs on DuckDB and every join's pair set is compared with it.

``--trace 0`` reports the end-to-end metrics, which count CPU time
(user plus system, of the JVM and the Python process) scaled to the
baseline host's core speed by a speed probe run between joins: on a
host that shares its cores with other guests, wall time follows their
load far more than CPU time does, and CPU time follows how fast the
cores run at the time. Wall and unscaled CPU times are in the summary
line.
``--trace 1`` is a separate run that splits each join over the
package's layers (tokenizers, the tkdf stage, the rest of the join) and
reads Spark's job, stage and SQL records for it. Both print one summary
line and then, as the last line of standard output, the result object. Per-run files
(the trace) go to ``perfbench/.work/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import host  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

# Untimed joins after the session starts. The first join of a fresh JVM
# costs two to three times a warm one, and the second still a few
# percent more than later ones (JIT compilation). Each further warm-up
# join would add 4-8 s to a run, and 48 runs must fit in an hour even
# when the host's neighbours make every join twice as slow.
WARMUP_JOINS = 2
# A timed run makes joins for ``--seconds``, at least this many.
MIN_TIMED_JOINS = 3
# Speed probes before the session starts; one more follows each join.
START_PROBES = 2
# A traced run measures in iterations for ``--seconds``, at least this many.
MIN_TRACED_ITERATIONS = 1


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class JoinRunner:
    """Runs the workload's join and records every pair set it returns."""

    def __init__(self, spark, w, frames):
        self.spark, self.w, self.frames = spark, w, frames
        self.tokenizer = w.make_tokenizer()
        self.outputs: list[frozenset | None] = []

    def __call__(self) -> frozenset | None:
        try:
            rows = workloads.join(self.w, self.frames, self.tokenizer).collect()
            pairs = workloads.normalize(
                self.w, ((r["l_id"], r["r_id"]) for r in rows))
        except Exception:  # a failed join is counted, not fatal
            log("join raised:\n" + traceback.format_exc())
            pairs = None
        self.outputs.append(pairs)
        return pairs

    def clear(self) -> None:
        self.spark.catalog.clearCache()


def measuring_window(seconds: float, minimum: int):
    """Yields 0, 1, 2, ... at least ``minimum`` times, then until the
    next step, as long as the median step so far, would end past
    ``seconds``: a run's length does not hang on where its last step
    happens to end."""
    spent = []
    start = time.perf_counter()
    while len(spent) < minimum or (
            time.perf_counter() - start + statistics.median(spent) <= seconds):
        t = time.perf_counter()
        yield len(spent)
        spent.append(time.perf_counter() - t)


def timed_joins(run: JoinRunner, seconds: float, pids: list[int],
                speed: host.SpeedProbe) -> dict:
    """Each join's wall and CPU time, from the call to all pairs
    collected; CPU time is the JVM's and this process's together. The
    speed probe runs after each join, outside its times."""
    wall, cpu = [], []
    steal = host.StealMeter()
    with host.PeakRss(pids) as rss:
        for _ in measuring_window(seconds, MIN_TIMED_JOINS):
            c, t = host.cpu_s(pids), time.perf_counter()
            if run() is not None:
                wall.append(time.perf_counter() - t)
                cpu.append(host.cpu_s(pids) - c)
            run.clear()
            speed.probe()
    if not wall:
        raise RuntimeError("every timed join raised")
    return {"join_s": wall, "join_cpu_s": cpu, "peak_rss_mb": rss.mb,
            "steal_share": steal.share()}


def _force(frames: list) -> int:
    return sum(f.count() for f in frames)


def traced_iterations(run: JoinRunner, tracer: Tracer, seconds: float) -> dict:
    """Each iteration runs the layers one at a time, each forced and
    persisted the way the join does it, then the traced join itself,
    and one plain join for the tracing overhead, alternately before and
    after the traced work so that warm-up does not favour either."""
    from pyspark import StorageLevel
    from jaccard_join_duckdb_spark import tokens_with_doc_freq

    w, tok = run.w, run.tokenizer
    plain, iters, stats = [], [], {}

    def plain_join():
        t = time.perf_counter()
        if run() is not None:
            plain.append(time.perf_counter() - t)
        run.clear()

    for i in measuring_window(seconds, MIN_TRACED_ITERATIONS):
        if i % 2 == 0:
            plain_join()
        with tracer.span("tokenizers.tokenize", i, f"tok-{i}") as s_tok:
            tokens = [
                tok.tokenize(run.frames[t], "id", "val")
                .persist(StorageLevel.MEMORY_AND_DISK)
                for t in w.tables
            ]
            token_rows = _force(tokens)
        with tracer.span("jaccard.tkdf", i, f"tkdf-{i}") as s_tkdf:
            tkdfs = [
                tokens_with_doc_freq(x, with_pair_key=w.mode == "self")
                .persist(StorageLevel.MEMORY_AND_DISK)
                for x in tokens
            ]
            _force(tkdfs)
        if not stats:
            from pyspark.sql import functions as F

            union = tokens[0].select("token")
            for x in tokens[1:]:
                union = union.unionByName(x.select("token"))
            stats = {
                "token_rows": token_rows,
                "vocab": union.distinct().count(),
                "max_df": max(x.agg(F.max("df")).first()[0] for x in tkdfs),
            }
        run.clear()
        with tracer.span("jaccard.join", i, f"join-{i}") as s_join:
            pairs = run()
        rec = tracer.spark_records(s_join)
        run.clear()
        if i % 2 == 1:
            plain_join()
        iters.append({
            "tokenize_s": s_tok["end"] - s_tok["start"],
            "tkdf_s": s_tkdf["end"] - s_tkdf["start"],
            "join_s": s_join["end"] - s_join["start"],
            "output_pairs": len(pairs) if pairs is not None else -1,
            **rec,
        })
    return {"plain_join_s": plain, "iterations": iters, "stats": stats}


def per_layer_metrics(tr: dict, session_s: float) -> dict:
    it = tr["iterations"]

    def med(key):
        return statistics.median(x[key] for x in it)

    def count(key):
        return statistics.median_low(x[key] for x in it)

    tokenize_s, tkdf_s, join_s = med("tokenize_s"), med("tkdf_s"), med("join_s")
    cand, pairs = count("candidate_rows"), count("output_pairs")
    values = {
        "session.start_s": (session_s, "s"),
        "tokenizers.tokenize_s": (tokenize_s, "s"),
        "tokenizers.token_rows": (tr["stats"]["token_rows"], "count"),
        "tokenizers.vocab": (tr["stats"]["vocab"], "count"),
        "jaccard.tkdf_s": (tkdf_s, "s"),
        "jaccard.max_df": (tr["stats"]["max_df"], "count"),
        "jaccard.join_s": (join_s, "s"),
        "jaccard.join_rest_s": (join_s - tokenize_s - tkdf_s, "s"),
        "jaccard.spark_jobs": (count("jobs"), "count"),
        "jaccard.spark_stages": (count("stages"), "count"),
        "jaccard.spark_tasks": (count("tasks"), "count"),
        "jaccard.driver_wait_s": (med("driver_wait_s"), "s"),
        "jaccard.executor_run_s": (med("executor_run_ms") / 1000, "s"),
        "jaccard.gc_s": (med("gc_ms") / 1000, "s"),
        "jaccard.shuffle_write_mb": (med("shuffle_write_bytes") / 2**20, "MB"),
        "jaccard.shuffle_read_mb": (med("shuffle_read_bytes") / 2**20, "MB"),
        "jaccard.spill_mb": (med("spill_bytes") / 2**20, "MB"),
        "jaccard.failed_tasks": (count("failed_tasks"), "count"),
        "jaccard.candidate_rows": (cand, "count"),
        "jaccard.candidate_yield": (pairs / cand if cand else 0.0, "ratio"),
        "jaccard.output_pairs": (pairs, "count"),
        "trace.overhead_s": (join_s - statistics.median(tr["plain_join_s"]), "s"),
        "peak_rss_mb": (tr["peak_rss_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--records", type=int, default=None,
                   help="profiles per table (default: the workload's size)")
    args = p.parse_args(argv)

    w = workloads.get(args.workload, args.records)
    work = os.path.join(HERE, ".work",
                        f"{w.name}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    budget = host.budget()
    host.prepare_env(budget, work)
    log(f"{w.name} seed={args.seed} trace={args.trace} host={budget.describe()}")
    speed = host.SpeedProbe()
    for _ in range(START_PROBES):
        speed.probe()

    t = time.perf_counter()
    inputs = workloads.write_inputs(w, args.seed, os.path.join(work, "input"))
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = host.start_spark(budget, work)
    session_s = time.perf_counter() - t
    try:
        run = JoinRunner(spark, w, workloads.read_frames(spark, inputs["paths"]))
        t = time.perf_counter()
        for _ in range(WARMUP_JOINS):
            run()
            run.clear()
            speed.probe()
        warmup_s = time.perf_counter() - t
        pids = [host.jvm_pid(spark), os.getpid()]
        # The probes' own CPU time is not set-up work.
        setup = {"wall_s": time.perf_counter() - PROCESS_START,
                 "cpu_s": host.cpu_s(pids, children=True) - sum(speed.times),
                 "generate_s": gen_s, "session_s": session_s,
                 "warmup_join_s": warmup_s}
        log(f"setup: {setup}")
        if args.trace:
            tracer = Tracer(spark)
            with host.PeakRss(pids) as rss:
                measured = traced_iterations(run, tracer, args.seconds)
            measured["peak_rss_mb"] = rss.mb
        else:
            measured = timed_joins(run, args.seconds, pids, speed)
    finally:
        host.stop_spark(spark)

    t = time.perf_counter()
    con = host.duckdb_connect(budget, work)
    try:
        ref = workloads.oracle(w, con, inputs["paths"], run.tokenizer)
    finally:
        con.close()
    oracle_s = time.perf_counter() - t

    attempted = len(run.outputs)
    failed = sum(out != ref["pairs"] for out in run.outputs)
    correct = failed == 0
    summary = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "host": budget.describe(),
        "inputs": {"records": w.total_records,
                   "token_rows": ref["token_rows"], "vocab": ref["vocab"],
                   "gt_pairs": inputs["gt_pairs"],
                   "oracle_pairs": len(ref["pairs"]), "oracle_s": oracle_s},
        "setup": setup,
        "joins_attempted": attempted, "joins_failed": failed,
        "error_rate": {"value": failed / attempted, "unit": "ratio"},
    }
    if args.trace:
        metrics = per_layer_metrics(measured, session_s)
        for key in ("token_rows", "vocab"):
            if measured["stats"][key] != ref[key]:
                correct = False
                log(f"{key}: Spark {measured['stats'][key]} != DuckDB {ref[key]}")
        tracer.dump(os.path.join(work, "trace.json"),
                    {"summary": summary, "measured": measured})
    else:
        wall, cpu = measured["join_s"], measured["join_cpu_s"]
        k = speed.factor()
        ref_cpu = [c * k for c in cpu]
        metrics = {
            "join_ref_cpu_s_p50": {"value": statistics.median(ref_cpu),
                                   "unit": "s"},
            "records_per_ref_cpu_s": {
                "value": w.total_records / statistics.mean(ref_cpu),
                "unit": "1/s"},
            "setup_s": {"value": setup["cpu_s"] * k, "unit": "s"},
        }
        summary.update({
            "peak_rss_mb": {"value": measured["peak_rss_mb"], "unit": "MB"},
            "speed_factor": k, "probe_s": speed.times,
            "join_s_p50": {"value": statistics.median(wall), "unit": "s"},
            "records_per_s": {"value": w.total_records / statistics.mean(wall),
                              "unit": "1/s"},
            "join_samples": len(wall), "join_s": wall, "join_cpu_s": cpu,
            "steal_share": measured["steal_share"],
        })
    for scratch in ("input", "spark-local", "tmp", "duckdb-tmp"):
        shutil.rmtree(os.path.join(work, scratch), ignore_errors=True)
    if not os.listdir(work):
        os.rmdir(work)
    print(json.dumps({**summary, **metrics}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
