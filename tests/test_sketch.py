"""Count-Min-Sketch heavy-hitter tests: exactness vs the plain
groupBy path, the no-undercount guarantee, plan shape, and knobs."""

import pytest
from pyspark.sql import functions as F


class TestHeavyHitters:
    def test_heavy_ngrams_equals_plain_ngram_counts(self, spark, documents):
        from jaccard_join_duckdb_spark.functions.text import ngram_counts
        from jaccard_join_duckdb_spark.operators.sketch import heavy_ngrams

        t = 4  # small fixture corpus: keep the head non-empty
        want = sorted(
            map(
                tuple,
                ngram_counts(
                    documents, "doc_id", "text", n=3, min_count=t
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                heavy_ngrams(
                    documents, "doc_id", "text", n=3, threshold=t
                ).collect(),
            )
        )
        assert got == want and want

    def test_exact_under_heavy_collisions(self, spark):
        """width=4 forces massive counter collisions — the trickle of
        over-counted tail keys must still be removed by the exact
        verify, so the answer stays equal to the plain path."""
        from jaccard_join_duckdb_spark.operators.sketch import heavy_hitters

        rows = spark.range(1000).select(
            F.concat(F.lit("k"), (F.col("id") % 50).cast("string")).alias(
                "k"
            )
        )
        skewed = rows.union(
            spark.range(500).select(F.lit("hot").alias("k"))
        )
        want = sorted(
            map(
                tuple,
                skewed.groupBy("k")
                .agg(F.count(F.lit(1)).alias("n_count"))
                .filter(F.col("n_count") >= 100)
                .collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                heavy_hitters(
                    skewed, "k", threshold=100, width=4, depth=2
                ).collect(),
            )
        )
        assert got == want and want

    def test_cms_never_undercounts(self, spark):
        """min over sketch rows >= true count for EVERY key — the
        property that makes the prefilter lossless."""
        from jaccard_join_duckdb_spark.operators.sketch import (
            cms_min_filter,
            cms_table,
        )

        data = spark.range(2000).select(
            F.concat(F.lit("k"), (F.col("id") % 97).cast("string")).alias(
                "k"
            )
        )
        w, d = 64, 3
        cms = cms_table(data, "k", w, d)
        # every key occurs floor/ceil(2000/97) >= 20 times: at
        # threshold 20 the filter must keep ALL occurrence rows
        kept = cms_min_filter(data, "k", cms, 20, w, d).count()
        assert kept == 2000

    def test_probe_plan_shuffle_free_before_exact_agg(self, spark):
        """The probe's only exchanges are the sketch broadcasts; the
        single hash-partition exchange in the full operator belongs
        to the exact verification aggregate."""
        from jaccard_join_duckdb_spark.operators.sketch import (
            cms_min_filter,
            cms_table,
            heavy_hitters,
        )

        data = spark.range(500).select(
            (F.col("id") % 11).cast("string").alias("k")
        )
        cms = cms_table(data, "k", 256, 4)
        probe_plan = (
            cms_min_filter(data, "k", cms, 5, 256, 4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange hashpartitioning" not in probe_plan
        assert "BroadcastNestedLoopJoin" not in probe_plan
        full_plan = (
            heavy_hitters(data, "k", 5, width=256, depth=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert full_plan.count("Exchange hashpartitioning") == 1

    def test_validation(self, spark):
        from jaccard_join_duckdb_spark.operators.sketch import (
            cms_table,
            heavy_hitters,
        )

        data = spark.range(3).select(F.col("id").alias("k"))
        with pytest.raises(ValueError):
            cms_table(data, "k", 0, 4)
        with pytest.raises(ValueError):
            heavy_hitters(data, "k", 0)

    def test_threshold_one_degenerates_to_plain_counts(self, spark):
        from jaccard_join_duckdb_spark.operators.sketch import heavy_hitters

        data = spark.range(100).select(
            (F.col("id") % 7).cast("string").alias("k")
        )
        got = sorted(
            map(tuple, heavy_hitters(data, "k", 1, width=32).collect())
        )
        want = sorted(
            map(
                tuple,
                data.groupBy("k")
                .agg(F.count(F.lit(1)).alias("n_count"))
                .collect(),
            )
        )
        assert got == want
