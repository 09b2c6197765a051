"""Sources & input-shaping helpers (SURVEY.md §2.1 / §2.7)."""

import os

from pyspark.sql import functions as F

from jaccard_join_duckdb_spark.sources import (
    concat_val,
    read_csv,
    read_table,
    register_view,
    sample_fixed,
    to_join_input,
    union_distinct,
    write_bucketed,
)
from tests.conftest import TESTS_DIR


def test_csv_scan_infers_schema(purchases):
    assert purchases.count() == 6
    assert dict(purchases.dtypes)["id"] in ("int", "bigint")


def test_concat_val_null_parity(spark):
    """DuckDB concat skips NULLs (doubled separators remain) — Spark
    F.concat would null the row; our helper reproduces DuckDB."""
    df = spark.createDataFrame(
        [("a", None, "c")], "c1 string, c2 string, c3 string"
    )
    out = df.select(concat_val("c1", "c2", "c3").alias("v")).collect()[0][0]
    assert out == "a  c"


def test_to_join_input_shape(purchases):
    out = to_join_input(purchases, "id", "purchases")
    assert out.columns == ["id", "val"]


def test_union_distinct_is_sql_union(spark):
    a = spark.createDataFrame([(1,), (2,)], "x int")
    b = spark.createDataFrame([(2,), (3,)], "x int")
    c = spark.createDataFrame([(3,), (1,)], "x int")
    out = union_distinct(a, b, c)
    assert sorted(r.x for r in out.collect()) == [1, 2, 3]


def test_sample_fixed_deterministic(documents):
    s1 = sample_fixed(documents, 50, seed=7).select("doc_id").collect()
    s2 = sample_fixed(documents, 50, seed=7).select("doc_id").collect()
    assert len(s1) == 50
    assert {r.doc_id for r in s1} == {r.doc_id for r in s2}


def test_register_view_and_sql_surface(spark, purchases):
    register_view(purchases, "purchases_v")
    n = spark.sql("select count(*) as n from purchases_v").collect()[0].n
    assert n == 6
    # S7 catalog metadata
    assert any(t.name == "purchases_v" for t in spark.catalog.listTables())


def test_any_value_per_group(spark, purchases):
    """A5: any_value picks an arbitrary-but-present value per group
    (test.ipynb cell 29 uses it in the manual similarity calc)."""
    out = (
        purchases.groupBy(F.lit(1).alias("g"))
        .agg(F.any_value(F.col("id")).alias("some_id"))
        .collect()
    )
    assert out[0].some_id in {r.id for r in purchases.collect()}


def test_bucketed_tables_join_without_exchange(spark, documents):
    """Co-location contract: two tables bucketed+sorted on the join
    key join with zero Exchange (and zero Sort) in the physical plan
    — the scan itself provides the partitioning, which is the whole
    point of pre-bucketing a 100 TB corpus."""
    left = documents.select("doc_id", "text")
    right = documents.select("doc_id", F.length("text").alias("n"))
    try:
        write_bucketed(left, "bck_l", "doc_id", num_buckets=8)
        write_bucketed(right, "bck_r", "doc_id", num_buckets=8)
        # hint("merge"): at test scale the planner would broadcast the
        # tiny side (also shuffle-free, but then the bucketed scan is
        # bypassed); force sort-merge so bucket co-location is what's
        # actually exercised, as it would be at 100 TB where neither
        # side broadcasts.
        j = read_table(spark, "bck_l").hint("merge").join(
            read_table(spark, "bck_r"), "doc_id"
        )
        assert j.count() == documents.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        # Control: the same sort-merge join on the raw (non-bucketed)
        # frames shuffles both sides — proves the assertion above is
        # meaningful.
        raw = left.hint("merge").join(right, "doc_id")
        raw.count()
        raw_plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in raw_plan
    finally:
        spark.sql("drop table if exists bck_l")
        spark.sql("drop table if exists bck_r")


def test_orc_roundtrip(spark, tmp_path):
    from jaccard_join_duckdb_spark.sources import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "id long, val string"
    )
    path = str(tmp_path / "t.orc")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert back.schema == df.schema
    assert sorted(tuple(r) for r in back.collect()) == [
        (1, "a b c"), (2, "d e f"),
    ]


def test_hash_split_deterministic_and_stable(spark, documents):
    """Split is a pure function of the id: identical across calls,
    unchanged when the corpus grows (no eval->train leakage on
    incremental ingest), and proportions roughly match the weights."""
    from jaccard_join_duckdb_spark.sources import hash_split

    full = {
        r.doc_id: r.split
        for r in hash_split(documents, "doc_id").select("doc_id", "split").collect()
    }
    again = {
        r.doc_id: r.split
        for r in hash_split(documents, "doc_id").select("doc_id", "split").collect()
    }
    assert full == again
    half = documents.filter(F.col("doc_id") % 2 == 0)
    sub = {
        r.doc_id: r.split
        for r in hash_split(half, "doc_id").select("doc_id", "split").collect()
    }
    assert all(full[i] == s for i, s in sub.items())
    n = len(full)
    train_frac = sum(1 for s in full.values() if s == "train") / n
    assert 0.8 < train_frac < 0.97
    assert set(full.values()) <= {"train", "val", "test"}


def test_hash_split_custom_weights_order(spark):
    from jaccard_join_duckdb_spark.sources import hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    out = hash_split(
        df, "id", weights=[("a", 0.5), ("b", 0.5)], seed=7
    ).groupBy("split").count().collect()
    counts = {r.split: r["count"] for r in out}
    assert set(counts) == {"a", "b"}
    assert abs(counts["a"] - 1000) < 120  # md5-uniform


def test_hash_split_rejects_bad_weights(spark, documents):
    import pytest as _pytest

    from jaccard_join_duckdb_spark.sources import hash_split

    with _pytest.raises(ValueError, match="positive"):
        hash_split(documents, "doc_id", [("a", 0.5), ("b", 0.0)])
    with _pytest.raises(ValueError, match="positive"):
        hash_split(documents, "doc_id", [("a", -0.1), ("b", 1.1)])
    with _pytest.raises(ValueError, match="unreachable"):
        hash_split(documents, "doc_id", [("a", 0.7), ("b", 0.3), ("c", 0.1)])
    with _pytest.raises(ValueError, match="at least one"):
        hash_split(documents, "doc_id", [])


def test_mix_corpora_deterministic_and_independent(spark, documents):
    """Each source samples at its rate as a pure function of
    (id, seed, source index): re-running gives the identical set,
    shared ids draw independently per source, and NULL ids are
    dropped from every source."""
    from jaccard_join_duckdb_spark.sources import mix_corpora

    mixed = mix_corpora(
        [(documents, 0.5), (documents, 0.5)], "doc_id"
    ).select("doc_id", "source")
    a = sorted(map(tuple, mixed.collect()))
    b = sorted(map(tuple, mixed.collect()))
    assert a == b
    n_docs = documents.count()
    s0 = {d for d, s in a if s == 0}
    s1 = {d for d, s in a if s == 1}
    # ~rate each, and NOT the same subset (independent draws)
    assert 0.3 * n_docs < len(s0) < 0.7 * n_docs
    assert 0.3 * n_docs < len(s1) < 0.7 * n_docs
    assert s0 != s1
    # seed changes the sample
    c = sorted(map(tuple, mix_corpora(
        [(documents, 0.5), (documents, 0.5)], "doc_id", seed=7
    ).select("doc_id", "source").collect()))
    assert c != a

    null_df = spark.createDataFrame(
        [(None, "x"), (1, "y")], "doc_id long, text string"
    )
    kept = mix_corpora([(null_df, 1.0)], "doc_id").collect()
    assert [r.doc_id for r in kept] == [1]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="rate"):
        mix_corpora([(documents, 0.0)], "doc_id")
    with _pytest.raises(ValueError, match="rate"):
        mix_corpora([(documents, 1.5)], "doc_id")


def test_mix_corpora_by_budget(spark, documents):
    """Budgets convert to keep-rates: an oversized budget keeps the
    whole source; a half budget keeps ~half the tokens (uniform row
    sampling preserves expected token share); result is deterministic."""
    from pyspark.sql import functions as F

    from jaccard_join_duckdb_spark.functions.text import ws_token_array
    from jaccard_join_duckdb_spark.sources import mix_corpora_by_budget

    total = documents.select(
        F.sum(F.size(ws_token_array(F.col("text"))))
    ).collect()[0][0]

    keep_all = mix_corpora_by_budget(
        [(documents, total * 10)], "doc_id", "text"
    )
    assert keep_all.count() == documents.count()

    half = mix_corpora_by_budget(
        [(documents, total // 2)], "doc_id", "text"
    )
    kept_tokens = half.select(
        F.sum(F.size(ws_token_array(F.col("text"))))
    ).collect()[0][0]
    assert 0.3 * total < kept_tokens < 0.7 * total
    a = sorted(r.doc_id for r in half.select("doc_id").collect())
    b = sorted(r.doc_id for r in half.select("doc_id").collect())
    assert a == b

    import pytest as _pytest
    with _pytest.raises(ValueError, match="budget"):
        mix_corpora_by_budget([(documents, 0)], "doc_id", "text")


def test_stratified_sample_rates_and_determinism(spark, documents):
    from jaccard_join_duckdb_spark.sources import stratified_sample

    out = stratified_sample(
        documents, "doc_id", "lang", {"en": 0.5, "de": 1.0, "fr": 0.0},
        default_rate=0.25,
    )
    rows = out.select("doc_id", "lang").collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    totals = {
        r.lang: r.n
        for r in documents.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert len(by_lang.get("de", ())) == totals["de"]   # rate 1: all kept
    assert "fr" not in by_lang                           # rate 0: dropped
    n_en = len(by_lang["en"])
    assert 0.3 * totals["en"] < n_en < 0.7 * totals["en"]
    again = {
        (r.doc_id, r.lang)
        for r in stratified_sample(
            documents, "doc_id", "lang", {"en": 0.5, "de": 1.0, "fr": 0.0},
            default_rate=0.25,
        ).select("doc_id", "lang").collect()
    }
    assert again == {(r.doc_id, r.lang) for r in rows}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        stratified_sample(documents, "doc_id", "lang", {"en": 1.5})


def test_deterministic_shuffle_total_reproducible_permutation(spark, documents):
    from jaccard_join_duckdb_spark.sources import deterministic_shuffle

    n = documents.count()
    a = deterministic_shuffle(documents, "doc_id").select(
        "doc_id", "shuffle_rank"
    ).collect()
    assert sorted(r.shuffle_rank for r in a) == list(range(1, n + 1))
    b = deterministic_shuffle(
        documents.repartition(7), "doc_id"
    ).select("doc_id", "shuffle_rank").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # layout-invariant
    c = deterministic_shuffle(documents, "doc_id", seed=7).select(
        "doc_id", "shuffle_rank"
    ).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))  # seed matters


def test_deterministic_shuffle_no_singlepartition_on_rows(spark, documents):
    """The 100 TB guard: the row-bearing side must never pass through
    Exchange SinglePartition (the naive global row_number plan). The
    only single-partition stage allowed is the <= 1025-row per-bucket
    count aggregate that produces the broadcast offsets."""
    from jaccard_join_duckdb_spark.sources import deterministic_shuffle

    df = deterministic_shuffle(documents, "doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Count SinglePartition exchanges feeding WIDE inputs: assert the
    # full-corpus window runs partitioned by bucket, i.e. the main
    # window's spec is partitioned (hashpartitioning on __b), and any
    # SinglePartition exchange sits above the tiny count aggregate.
    import re
    singles = plan.count("Exchange SinglePartition")
    assert singles <= 1, plan  # only the tiny bases window
    assert re.search(r"hashpartitioning\(__b", plan), plan


def test_write_training_shards_balanced_and_deterministic(spark, documents, tmp_path):
    from jaccard_join_duckdb_spark.sources import (
        deterministic_shuffle,
        write_training_shards,
    )

    n = documents.count()
    p1 = str(tmp_path / "shards1")
    write_training_shards(documents, "doc_id", p1, n_shards=4)
    back = spark.read.parquet(p1)
    sizes = {r.shard: r.n for r in back.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) == {0, 1, 2, 3}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert sum(sizes.values()) == n
    # membership is the pure function of (ids, seed): shard of every
    # doc equals (rank-1) % n_shards from deterministic_shuffle
    want = {
        r.doc_id: (r.shuffle_rank - 1) % 4
        for r in deterministic_shuffle(documents, "doc_id").collect()
    }
    got = {r.doc_id: r.shard for r in back.select("doc_id", "shard").collect()}
    assert got == want
    # re-write from a different layout → identical membership
    p2 = str(tmp_path / "shards2")
    write_training_shards(documents.repartition(7), "doc_id", p2, n_shards=4)
    got2 = {
        r.doc_id: r.shard
        for r in spark.read.parquet(p2).select("doc_id", "shard").collect()
    }
    assert got2 == got


def test_read_jsonl_gzip_transparent(spark, tmp_path):
    """Training corpora usually ship as .jsonl.gz; Spark's JSONL
    reader must decompress by extension with identical rows (gzip is
    NOT splittable — one task per file — so sharded .gz files are the
    scalable layout, one reason the shard writer exists)."""
    import gzip
    import json as _json

    rows = [{"doc_id": i, "text": f"doc number {i}"} for i in range(20)]
    plain = tmp_path / "docs.jsonl"
    gz = tmp_path / "docs.jsonl.gz"
    payload = "\n".join(_json.dumps(r) for r in rows)
    plain.write_text(payload)
    with gzip.open(gz, "wt") as f:
        f.write(payload)

    from jaccard_join_duckdb_spark.sources import read_jsonl

    a = sorted(map(tuple, read_jsonl(spark, str(plain)).collect()))
    b = sorted(map(tuple, read_jsonl(spark, str(gz)).collect()))
    assert a == b and len(a) == 20


class TestBinaryAssets:
    def test_reads_files_as_payload_rows(self, spark, tmp_path):
        from jaccard_join_duckdb_spark.sources import read_binary_assets

        (tmp_path / "a.png").write_bytes(b"\x89PNG" + b"x" * 60)
        (tmp_path / "b.png").write_bytes(b"\x89PNG" + b"y" * 10)
        (tmp_path / "c.txt").write_bytes(b"not a png")
        out = read_binary_assets(spark, str(tmp_path), glob="*.png")
        rows = {r["asset_id"].split("/")[-1]: r for r in out.collect()}
        assert set(rows) == {"a.png", "b.png"}
        assert rows["a.png"]["asset_len"] == 64
        assert bytes(rows["b.png"]["payload"]).startswith(b"\x89PNG")

    def test_max_bytes_skips_whales(self, spark, tmp_path):
        from jaccard_join_duckdb_spark.sources import read_binary_assets

        (tmp_path / "small.bin").write_bytes(b"s" * 10)
        (tmp_path / "whale.bin").write_bytes(b"w" * 10_000)
        out = read_binary_assets(spark, str(tmp_path), max_bytes=100)
        names = [r["asset_id"].split("/")[-1] for r in out.collect()]
        assert names == ["small.bin"]

    def test_feeds_multimodal_decode(self, spark, tmp_path):
        """End-to-end on-ramp: files on disk -> binaryFile scan ->
        the existing Arrow decode kernel."""
        import struct

        from jaccard_join_duckdb_spark.sources import read_binary_assets
        from jaccard_join_duckdb_spark.sources.multimodal import (
            decode_image_meta,
        )

        png = (
            b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
            + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00"
            + b"\x00" * 4
        )
        (tmp_path / "img.png").write_bytes(png)
        from pyspark.sql import functions as F

        assets = read_binary_assets(spark, str(tmp_path), glob="*.png")
        # the asset schema keys on a LONG id: hash the path (the
        # standard path->id bridge for file-sourced assets)
        meta = decode_image_meta(
            assets.select(
                F.xxhash64("asset_id").alias("asset_id"), "payload"
            ),
            fake=False,
        ).collect()
        assert len(meta) == 1
        r = meta[0]
        assert (r["width"], r["height"]) == (640, 480)


def test_shard_read_prunes_partitions(spark, documents, tmp_path):
    """Reading one shard back must PRUNE the others at the file
    listing (PartitionFilters on the scan), not read-then-filter —
    the property that makes shard-addressed reads O(shard) at 100 TB."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from jaccard_join_duckdb_spark.sources import write_training_shards

    p = str(tmp_path / "shards")
    write_training_shards(documents, "doc_id", p, n_shards=4)
    one = spark.read.parquet(p).filter(F.col("shard") == 2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        one.explain("formatted")
    txt = buf.getvalue()
    assert "PartitionFilters" in txt
    # the shard predicate must appear in PartitionFilters, and the
    # post-scan data filter must NOT carry it
    pf_line = next(
        line for line in txt.splitlines() if "PartitionFilters" in line
    )
    assert "shard" in pf_line
    n_total = spark.read.parquet(p).count()
    n_one = one.count()
    assert 0 < n_one < n_total


def test_session_pins_initial_heap(spark):
    """The driver JVM must run with -Xms pinned (round 11): G1's
    commit/uncommit cycle on a grow-only -Xmx heap measured 5-40x
    iteration storms on lazily-backed VM memory (BENCHMARKS.md,
    round-11 attribution). The pin is the session default, so the
    shared test session itself must carry it."""
    opts = spark.conf.get("spark.driver.extraJavaOptions", "")
    assert "-Xms" in opts


def test_get_spark_merges_caller_java_options(monkeypatch):
    """Caller-supplied spark.driver.extraJavaOptions must COMPOSE with
    the -Xms pin (not replace it), and the passed extra_conf dict must
    not be mutated."""
    import jaccard_join_duckdb_spark.session as S

    captured = {}

    class FakeBuilder:
        def appName(self, *_): return self
        def master(self, *_): return self
        def config(self, k, v):
            captured[k] = v
            return self
        def getOrCreate(self): return None

    monkeypatch.setattr(
        S.SparkSession, "builder", FakeBuilder(), raising=False
    )
    conf = {"spark.driver.extraJavaOptions": "-Dcaller=1"}
    S.get_spark(extra_conf=conf)
    opts = captured["spark.driver.extraJavaOptions"]
    assert "-Xms" in opts and "-Dcaller=1" in opts
    assert conf == {"spark.driver.extraJavaOptions": "-Dcaller=1"}


def test_get_spark_xms_opt_out(monkeypatch):
    """SPARK_GRAFT_DRIVER_XMS=0 disables the pin entirely."""
    import jaccard_join_duckdb_spark.session as S

    captured = {}

    class FakeBuilder:
        def appName(self, *_): return self
        def master(self, *_): return self
        def config(self, k, v):
            captured[k] = v
            return self
        def getOrCreate(self): return None

    monkeypatch.setattr(
        S.SparkSession, "builder", FakeBuilder(), raising=False
    )
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_XMS", "0")
    S.get_spark()
    assert "spark.driver.extraJavaOptions" not in captured


def test_default_driver_memory_fits_host(monkeypatch):
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is sized from the
    host, never above its physical memory: a fixed 48g default, pinned
    with -Xms, stopped the JVM from starting on a 15 GB host. The
    variable still overrides the default."""
    import jaccard_join_duckdb_spark.session as S

    captured = {}

    class FakeBuilder:
        def appName(self, *_): return self
        def master(self, *_): return self
        def config(self, k, v):
            captured[k] = v
            return self
        def getOrCreate(self): return None

    monkeypatch.setattr(
        S.SparkSession, "builder", FakeBuilder(), raising=False
    )
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_XMS", raising=False)
    S.get_spark()
    heap = captured["spark.driver.memory"]
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert heap == S.default_driver_memory()
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) << 20 <= S.host_memory_bytes() <= physical
    assert f"-Xms{heap}" in captured["spark.driver.extraJavaOptions"]

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    S.get_spark()
    assert captured["spark.driver.memory"] == "2g"


def test_pretouch_only_when_heap_fits(monkeypatch):
    """SPARK_GRAFT_PRETOUCH=1 pre-touches the heap only when it fits
    the host: touching every page of an oversized heap at startup
    would run the host out of memory. The -Xms pin is unaffected."""
    import jaccard_join_duckdb_spark.session as S

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_XMS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_PRETOUCH", "1")
    fits = S.default_driver_memory()
    assert S._java_opts(fits) == [f"-Xms{fits}", "-XX:+AlwaysPreTouch"]
    oversized = f"{(4 * S.host_memory_bytes()) >> 30}g"
    assert S._mem_bytes(oversized) > S.host_memory_bytes()
    assert S._java_opts(oversized) == [f"-Xms{oversized}"]
    monkeypatch.delenv("SPARK_GRAFT_PRETOUCH")
    assert S._java_opts(fits) == [f"-Xms{fits}"]
    assert S._mem_bytes("512m") == S._mem_bytes("512") == 512 << 20
    assert S._mem_bytes("4gb") == 4 << 30
