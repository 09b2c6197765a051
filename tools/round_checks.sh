#!/bin/sh
# Round validation sweep: every exit-gated evidence tool, fail-fast.
# Each tool prints one JSON line and exits non-zero when its
# plan-shape / recall / equality invariants break, so a silent
# regression in any of them fails the sweep:
#   - explain_audit:     regenerates PLANS.md; no cartesians, no
#                        row-Python-UDFs, no row-bearing
#                        SinglePartition exchanges
#   - bucket_bench:      bucketed co-located join plan is
#                        Exchange-free
#   - index_bucket_bench: bucketed LSH embedding index probe keeps
#                        the corpus side Exchange-free
#   - ann_recall_bench:  banded LSH recall monotone in bands,
#                        8x4 >= 0.8 on testdata; kmeans beats min_ids
#                        on the drift corpus
#   - skew_demo:         hot-token broadcast split stays equal to the
#                        baseline join output
#   - search_bench:      phrase probes prune buckets
#                        (SelectedBucketsCount 1-of-N)
#   - graph_bench:       pagerank bit-exact vs the recursive-CTE twin,
#                        SinglePartition-free plan, 10x-nodes growth
#                        bounded
#   - dedup_recall_bench: MinHash-LSH recall vs the exact brute pair
#                        set >= 0.95 at t=0.9 (and >= 0.80 off-design
#                        at t=0.8), precision exactly 1.0
#   - weighted_bench:    weighted-PPJoin prefix filter result ==
#                        exact all-shared-token baseline on a
#                        stopword-heavy Zipf corpus, candidate
#                        fan-out <= 20% of the raw inverted index
#                        (measured ~0.04%)
#   - bloom_bench:       Bloom-prefiltered decontamination == plain
#                        on a 20K-item x 200K-doc synthetic leak
#                        workload; probe plan shuffle-free while the
#                        forced-no-broadcast plain join shuffles;
#                        survivors < 5% of corpus shingles; word
#                        table smaller than the raw key set
#   - cms_bench:         CMS heavy hitters == plain groupBy-filter on
#                        an 8M-occurrence heavy-tailed corpus (6.8M
#                        distinct keys); total shuffle rows (bounded
#                        sketch build + exact agg of survivors)
#                        <= 20% of the plain path's; prefilter plan
#                        shuffle-free (broadcast probes only)
#   - stream_bench:      streaming ingest stays FLAT as state grows:
#                        per-trigger wall tail/middle <= 1.8 across
#                        20 dedup_stream triggers (state -> 150K
#                        fingerprints) and 10 static-index near-dup
#                        triggers; stream union == batch twin both
# Usage: sh tools/round_checks.sh
# Each tool runs at its own documented default scale (mostly sf0.1 —
# the scale its BENCHMARKS.md evidence and recall floors were gated
# at; skew_demo takes row counts, not an sf dir).
set -e
cd "$(dirname "$0")/.."
for t in explain_audit bucket_bench index_bucket_bench \
         ann_recall_bench skew_demo search_bench graph_bench \
         dedup_recall_bench weighted_bench \
         bloom_bench cms_bench stream_bench; do
  echo "== $t =="
  python3 "tools/$t.py"
done
echo "ROUND CHECKS: ALL GATES PASS"
