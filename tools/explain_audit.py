"""Plan-quality audit: dump ``explain('formatted')`` for every entry
query and flag anti-patterns.

Checks per plan:
- CartesianProduct / BroadcastNestedLoopJoin where not expected
  (only the ANN top-k queries legitimately broadcast-cross small
  query sets against the corpus);
- row-at-a-time Python UDFs (``BatchEvalPython``) — the engine's
  relational hot paths must stay JVM-side (``ArrowEvalPython`` from
  the multimodal mapInPandas stages is the sanctioned exception and
  does not appear in entry queries);
- parquet scans that read more columns than the query needs
  (ReadSchema wider than 8 fields is reported for eyeballing).

Usage: python tools/explain_audit.py [sf_dir] [query ...]
Writes the full plans to PLANS.md (generated output, not committed)
and prints one verdict line per query; exits 1 if a hard anti-pattern
is found, if a full run leaves PLANS.md without a declared query's
plan, or if a targeted run names a query that is not declared.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# broadcast-cross by design: ANN queries cross a tiny query set against
# the corpus; dedup_embed_cosine is the exact all-pairs baseline (its
# scale path passes block_expr = LSH bucket → equi join);
# text_bm25_topk attaches two ONE-ROW global aggregates (N, total
# tokens) via crossJoin(broadcast(...)) — the declarative alternative
# to a driver-side collect, planned as a 1-row BroadcastNestedLoopJoin.

# SinglePartition exchanges adjudicated benign (bounded inputs that
# the structural HashAggregate-feeder rule can't see through AQE
# stage boundaries):
# - jaccard_inner_ws(_scored): the tid ranking windows the token
#   VOCABULARY (dfreq) unpartitioned only when the doc-frequency stats
#   proved vocab_n <= _RANK_ROWS (jaccard._tid_rank; a larger one
#   ranks in buckets) — a bounded side table, never corpus rows.
# Names whose SinglePartition exchange is benign REGARDLESS of the
# producer node. Empty since round 11: the former members (the inner
# bitset tid ranking) are now held to the stricter cache-producer
# test below instead of skipping the check outright.
SINGLE_OK: set = set()
# Queries whose SinglePartition exchange is fed by a CACHE node
# (InMemoryTableScan / TableCacheQueryStage / ResultQueryStage) that
# is KNOWN to hold a bounded vocabulary/aggregate dim. ADVICE r10: a
# blanket "any cached producer is benign" exemption would stop
# flagging the r5 bug class (corpus-scale frame → unpartitioned
# window) whenever the corpus frame happens to be persisted — and
# persisting is this codebase's default pattern. So cache-fed
# single-partition exchanges are benign ONLY for the names below;
# any other query hitting one flags ROW-SINGLE-PARTITION even though
# its input is cached. (Aggregate producers stay structurally benign
# for every query: a partial HashAggregate's final merge is
# scalar-sized by construction.)
SINGLE_CACHE_OK = {
    # Self join: the tid ranking (jaccard._tid_rank, on every path;
    # jaccard._docs builds pos and the bitset words by a groupBy on id,
    # with no window) windows the PERSISTED doc-frequency dim — verified in the
    # plan text: the exchange input is the [token, df] vocabulary dim
    # out of the dim HashAggregate's cache. It runs unpartitioned only
    # when the doc-frequency stats proved vocab_n <= _RANK_ROWS
    # (jaccard.py); a larger vocabulary ranks partitioned by bucket.
    # Every name below routes through jaccard_self_join.
    "jaccard_self_qgram",
    "jaccard_self_ws",
    "jaccard_self_ws_scored",
    "jaccard_knn",
    "jaccard_topk_pairs",
    # Inner join: same vocab-dim tid ranking over the
    # cross-table dfreq, built once for the one side-tagged docs frame
    # (grouped by side and key). Formerly in SINGLE_OK,
    # which skipped the check entirely; these now at least require the
    # cache-node producer like the self family.
    "jaccard_inner_ws",
    "jaccard_inner_ws_scored",
}
CROSS_OK = {
    "ann_cosine_topk",
    "ann_lsh_topk",
    # 1-row vocabulary-size scalar attach (same class as text_bm25_topk)
    "text_lm_score",
    "text_lm_score_backoff",
    # 1-row scalar attaches, folded in round 7 to ONE each: the
    # tertile-cutoff attach (LM subtree now localCheckpoint-ed) and
    # the combined two-LM vocabulary attach (single shared scoring
    # pass)
    "text_ppl_buckets",
    "dsir_weights",
    "dedup_embed_cosine",
    "text_bm25_topk",
    # 1-row corpus-size scalar attached via crossJoin(broadcast(...))
    # — same declarative-scalar pattern as text_bm25_topk.
    "boilerplate_lines",
    # 1-row corpus-total-occurrences scalar attach (cum_frac divisor)
    "build_vocab",
    # dense-grid construction: (day-anchored time buckets from a
    # 1-row min/max aggregate) x (distinct keys) — both metadata-
    # scale; the aggregated facts broadcast onto the grid by hash,
    # never cross.
    "events_resample",
    "events_resample_7h",
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from jaccard_join_duckdb_spark import get_spark

    spark = get_spark(
        app_name="explain-audit",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    sections = {}
    bad = []
    all_queries = {**e.queries(), **getattr(e, "extra_queries", dict)()}
    for name, fn in all_queries.items():
        if only and name not in only:
            continue
        txt = plan_text(fn(spark, sf_dir))
        flags = []
        if "CartesianProduct" in txt and name not in CROSS_OK:
            flags.append("CARTESIAN")
        if "BroadcastNestedLoopJoin" in txt and name not in CROSS_OK:
            flags.append("NESTED-LOOP-JOIN")
        if "BatchEvalPython" in txt:
            flags.append("PYTHON-UDF")
        # Row-bearing single-partition exchange: every corpus row
        # through one task — the 100 TB killer (caught live on
        # deterministic_shuffle's naive global row_number in r5).
        # A SinglePartition exchange is benign ONLY as the final
        # merge of a partial HashAggregate (scalar/tiny aggregates —
        # structurally benign for every query), or fed by a
        # MATERIALIZED CACHE node (InMemoryTableScan /
        # TableCacheQueryStage / ResultQueryStage, the nodes AQE
        # renders for executed cache subtrees) WHEN the query is in
        # SINGLE_CACHE_OK — the per-query allowlist above (ADVICE
        # r10: a blanket cache exemption would hide the r5 bug class
        # behind a persist() call). A FRESH raw scan, filter,
        # project, or join output flowing into SinglePartition still
        # flags — cached or not, listed or not.
        if name not in SINGLE_OK:
            for m in re.finditer(
                r"\((\d+)\) Exchange[^\n]*\nInput[^\n]*\n"
                r"Arguments: SinglePartition", txt
            ):
                # the producer is the node drawn under the exchange in
                # the tree; its number is not always idx - 1 (a cache
                # not yet materialized numbers its own plan in between)
                below = re.search(
                    rf"Exchange \({m.group(1)}\)[^\n]*\n[\s:|]*\+- (?:\* )?(\w+)",
                    txt,
                )
                producer = below.group(1) if below else ""
                if producer.endswith("Aggregate"):
                    continue
                if name in SINGLE_CACHE_OK and producer in (
                    "InMemoryTableScan", "TableCacheQueryStage",
                    "ResultQueryStage",
                ):
                    continue
                flags.append("ROW-SINGLE-PARTITION")
                break
        wide = [
            m.group(1)
            for m in re.finditer(r"ReadSchema: struct<([^>]*)>", txt)
            if m.group(1).count(",") + 1 > 8
        ]
        soft = f" wide-scan({len(wide)})" if wide else ""
        verdict = "FLAG " + ",".join(flags) if flags else "ok"
        print(f"  [{verdict}]{soft} {name}")
        if flags:
            bad.append(name)
        sections[name] = f"## {name}\n\n```\n{txt}\n```\n"

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    # Targeted runs MERGE into the existing PLANS.md instead of
    # truncating it to the targeted sections (round-7 verdict #2: a
    # targeted run committed a 6-query PLANS.md and silently dropped
    # the other 94 plans). Sections are re-emitted in declared-query
    # order; a fresh full run ignores the old file entirely.
    if only and os.path.exists(out):
        old = open(out).read()
        # The close fence is anchored to a ``` line immediately
        # followed by the next section header or end-of-file (the
        # exact shape this writer emits) — a literal ``` line INSIDE
        # a plan body can no longer truncate its section and shift
        # every later parse (round-8 advisor #4).
        for m in re.finditer(
            r"^## (\S+)\n\n```\n(.*?)\n```\n(?=\n## |\Z)",
            old, re.M | re.S,
        ):
            sections.setdefault(m.group(1), m.group(0))
    ordered = [sections[n] for n in all_queries if n in sections]
    with open(out, "w") as f:
        f.write(
            "# Physical plans (explain formatted) per entry query\n\n"
            "Generated by tools/explain_audit.py — regenerate after plan-"
            "affecting changes.\n\n" + "\n".join(ordered)
        )
    print(f"\nplans written to {out}")
    # Completeness gate: after a full run PLANS.md must hold ONE section
    # per declared query. A targeted run answers only for the queries
    # it names, so it stands alone on a tree without a full PLANS.md;
    # a name that is not declared fails it instead of passing silently.
    unknown = sorted(only - set(all_queries))
    if unknown:
        print("AUDIT FAIL: no declared query named " + ", ".join(unknown))
        return 1
    missing = sorted(set(all_queries) - set(sections))
    if missing and not only:
        print(
            f"AUDIT FAIL: PLANS.md incomplete — {len(missing)} declared "
            f"queries have no plan section: "
            + ", ".join(missing[:10])
            + ("..." if len(missing) > 10 else "")
        )
        return 1
    print("AUDIT FAIL: " + ", ".join(bad) if bad else "AUDIT CLEAN")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
