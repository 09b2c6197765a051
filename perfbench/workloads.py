"""The benchmark's workloads: seeded person-profile corpora, the join
call each workload times, and the DuckDB oracle for its pair set.

Corpora come from ``tools/gen_refscale.py``'s calibrated profile model
(60% originals, 40% perturbed duplicates, Zipf-skewed attribute
values), driven by the benchmark's ``--seed`` instead of that tool's
fixed seed. The join under test receives only the written parquet.
"""

from __future__ import annotations

import functools
import importlib.util
import os
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _profile_model():
    path = os.path.join(REPO, "tools", "gen_refscale.py")
    if not os.path.exists(path):
        raise FileNotFoundError(f"profile generator missing: {path}")
    spec = importlib.util.spec_from_file_location("gen_refscale", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass(frozen=True)
class Workload:
    name: str
    mode: str          # "self": one table joined with itself; "inner": two
    tokenizer: str     # "ws" whitespace words, "<q>g" padded q-grams
    threshold: float
    records: int       # profiles per table

    def make_tokenizer(self):
        from jaccard_join_duckdb_spark import QGramsTokzr, WhitespaceTokzr

        if self.tokenizer == "ws":
            # Not distinct_rows: a profile can repeat a word (age and
            # street number), so the join measures that itself.
            return WhitespaceTokzr()
        return QGramsTokzr(int(self.tokenizer[:-1]))

    @property
    def tables(self) -> tuple[str, ...]:
        return ("a",) if self.mode == "self" else ("l", "r")

    @property
    def total_records(self) -> int:
        return self.records * len(self.tables)


WORKLOADS = {
    w.name: w
    for w in (
        Workload("self-ws-t08", "self", "ws", 0.8, 10_000),
        Workload("self-5g-t03", "self", "5g", 0.3, 1_000),
        Workload("inner-2g-t08", "inner", "2g", 0.8, 300),
    )
}


def get(name: str, records: int | None = None) -> Workload:
    w = WORKLOADS[name]
    return replace(w, records=records) if records else w


def _profiles(rng: np.random.Generator, n: int):
    """``n`` profiles from the calibrated model: ``(ids, vals, owner)``
    where ``owner[i]`` names the original profile row ``i`` derives from."""
    gen = _profile_model()
    n_dup = int(n * gen.DUP_FRAC)
    n_orig = n - n_dup
    originals = gen._make_originals(rng, n_orig)
    dup_of = rng.integers(0, n_orig, n_dup)
    records = originals + [gen._perturb(rng, originals[o]) for o in dup_of]
    ids = rng.permutation(n).astype(np.int64)
    owner = np.concatenate([np.arange(n_orig), dup_of])
    return ids, [gen._concat_val(r) for r in records], owner


def _ground_truth_pairs(owner, side, cross: bool) -> int:
    """Same-profile pairs; only those across the two sides when
    ``cross`` (an inner join)."""
    members = np.bincount(owner)
    if not cross:
        return int((members * (members - 1) // 2).sum())
    left = np.bincount(owner, weights=~side).astype(np.int64)
    return int((left * (members - left)).sum())


def write_inputs(w: Workload, seed: int, out_dir: str) -> dict:
    """Generate the workload's tables from ``seed`` and write one parquet
    per table. An inner join's two tables are the halves (by id) of one
    corpus, so duplicates straddle them. Returns paths and the
    ground-truth pair count."""
    rng = np.random.default_rng([seed, w.total_records])
    ids, vals, owner = _profiles(rng, w.total_records)
    side = (ids >= w.records) if w.mode == "inner" else np.zeros(len(ids), bool)
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for s, table in enumerate(w.tables):
        keep = np.flatnonzero(side == s)
        paths[table] = os.path.join(out_dir, f"{table}.parquet")
        pq.write_table(
            pa.table({"id": pa.array(ids[keep]),
                      "val": pa.array([vals[i] for i in keep], pa.string())}),
            paths[table],
        )
    return {"paths": paths,
            "gt_pairs": _ground_truth_pairs(owner, side, w.mode == "inner")}


def normalize(w: Workload, rows) -> frozenset:
    """Pair set as compared with the oracle: unordered for a self-join,
    (left id, right id) for an inner join."""
    if w.mode == "self":
        return frozenset((min(a, b), max(a, b)) for a, b in rows)
    return frozenset((a, b) for a, b in rows)


def read_frames(spark, paths: dict) -> dict:
    return {t: spark.read.parquet(p) for t, p in paths.items()}


def join(w: Workload, frames: dict, tokenizer):
    """The operation under test: the package's public join call. Its
    pairs are in columns ``l_id`` and ``r_id``, in either order."""
    from jaccard_join_duckdb_spark import jaccard_inner_join, jaccard_self_join

    if w.mode == "self":
        return jaccard_self_join(frames["a"], "id", "val", tokenizer,
                                 w.threshold)
    return jaccard_inner_join(frames["l"], frames["r"], "id", "id", "val",
                              "val", tokenizer, w.threshold)


def oracle(w: Workload, con, paths: dict, tokenizer) -> dict:
    """The reference pipeline on DuckDB (``plans/ref_sql.py``): the pair
    set every Spark join must equal, plus the input's exact token-row
    and vocabulary counts."""
    from jaccard_join_duckdb_spark.plans import ref_sql

    for table, path in paths.items():
        con.execute(f"create or replace view {table} as "
                    f"select * from read_parquet('{path}')")
    if w.mode == "self":
        sql = ref_sql.self_filtered_sql("a", "id", "val", tokenizer,
                                        w.threshold)
    else:
        sql = ref_sql.inner_filtered_sql("l", "r", "id", "id", "val", "val",
                                         tokenizer, w.threshold)
    pairs = normalize(w, con.execute(sql).fetchall())
    tokens = " union all ".join(
        f"({ref_sql.tokens_sql(t, 'id', 'val', tokenizer)})" for t in w.tables
    )
    token_rows, vocab = con.execute(
        f"select count(*), count(distinct token) from ({tokens})"
    ).fetchone()
    return {"pairs": pairs, "token_rows": int(token_rows),
            "vocab": int(vocab)}
