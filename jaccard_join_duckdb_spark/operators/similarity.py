"""Similarity search over embedding columns (``array<float>``).

Beyond-reference surface: brute-force cosine top-k (the exactness
baseline), threshold near-dup pairs, and a random-hyperplane LSH
bucketed variant (the scale path — buckets cut the candidate set
from O(n^2) to the bucket-local pairs).

Determinism: elements are cast to double *before* multiply, the dot
product folds left-to-right (``F.aggregate``), and scores are
rounded to 6 — the same expression is reproducible in DuckDB with
``list_reduce``, so these operators are oracle-checkable despite
float inputs.

Scale design: queries are broadcast against the corpus (top-k), the
near-dup pair join is blocked (LSH buckets) rather than a cross
join; norms are computed once per row, not per pair.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from ..tokenizers import _ensure_parallelism

__all__ = [
    "EmbeddingLshIndex",
    "ann_recall",
    "cosine_similarity",
    "cosine_topk_bruteforce",
    "cosine_topk_pandas",
    "cosine_near_duplicates",
    "cosine_near_duplicates_lsh_banded",
    "embedding_lsh_index",
    "embedding_stats",
    "embedding_lsh_match",
    "read_embedding_lsh_index",
    "write_embedding_lsh_index",
    "hyperplanes",
    "ivf_topk",
    "lsh_banded_topk",
    "lsh_bucket_topk",
    "semantic_dedup",
]


def _dot(a: Column, b: Column) -> Column:
    """Left-to-right double-precision dot product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _py_norm(vals) -> float:
    """Driver-side L2 norm with the exact float semantics of
    :func:`_norm` / the oracle's ``_norm_sql``: left-to-right
    double-precision accumulation from 0.0, then correctly-rounded
    sqrt. Keeping the fold order identical is what makes centroid
    literals oracle-reproducible."""
    acc = 0.0
    for x in vals:
        v = float(x)
        acc = acc + v * v
    return math.sqrt(acc)


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    ``queries`` is broadcast (the small side); the corpus streams.
    Ranking: rounded cosine desc, then corpus id asc — fully
    deterministic ordering even under score ties.
    Output: ``(query_id, neighbor_id, cosine, rank)``.
    """
    # Norms are per-row: fold them once per query/corpus row, not per
    # pair (|Q|× the work on the corpus side otherwise). Same float
    # values as cosine_similarity, so oracle parity is unaffected.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qnrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cnrm"),
    )
    pairs = c.crossJoin(F.broadcast(q))
    if not include_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
    )


def cosine_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Vectorized Pandas-UDF top-k: numpy matmul per Arrow batch.

    The query set is collected once on the driver (top-k queries are
    small by construction) and shipped in the UDF closure; each
    corpus partition computes a (batch × queries) score matrix and
    emits its local top-k per query, then a global rank window keeps
    the true top-k. Scales with the corpus (no shuffle before the
    final per-query rank over ≤ k·partitions rows).

    Scores use float64 matmul — summation order differs from the
    left-to-right fold of :func:`cosine_topk_bruteforce`, so ranks
    agree but the 6-dp rounded score can differ in the last digit on
    adversarial ties; tests compare with tolerance.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    if not q_rows:
        empty = "query_id long, neighbor_id long, cosine double, rank int"
        return corpus.sparkSession.createDataFrame([], empty)
    q_ids = np.array([r.qid for r in q_rows])
    q_mat = np.array([r.qv for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    def kernel(batches):
        for pdf in batches:
            ids = pdf["neighbor_id"].to_numpy()
            c_mat = np.array(list(pdf["cv"]), dtype=np.float64)
            c_norm = np.linalg.norm(c_mat, axis=1)
            scores = (c_mat @ q_mat.T) / np.outer(c_norm, q_norm)
            for j, qid in enumerate(q_ids):
                col = scores[:, j]
                mask = ids != qid
                cand_idx = np.nonzero(mask)[0]
                if cand_idx.size == 0:
                    continue
                # Local selection must use the SAME ordering as the
                # global rank window (rounded score desc, neighbor_id
                # asc) — selecting on raw float scores could drop a
                # candidate that outranks a kept one after rounding.
                rounded = np.round(col[cand_idx], 6)
                order = np.lexsort((ids[cand_idx], -rounded))
                top = cand_idx[order[: int(k)]]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[top],
                        "cosine": np.round(col[top], 6),
                    }
                )

    local = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).mapInPandas(
        kernel, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
    )


def _ivf_corpus_assign(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    seed: int,
    centroids: str,
):
    """Shared IVF corpus stage: pick centroids (min_ids / sample /
    kmeans — see :func:`ivf_topk`) and assign every corpus vector to
    its top-1 list with the vectorized numpy kernel (fold-order
    bit-identical to the scalar ``_dot``/oracle folds; ties to the
    LARGER centroid index, matching reverse(array_sort(...))).

    Returns ``(assigned, cents)``: ``assigned`` has columns
    ``(neighbor_id, cv, lst, nrm)`` — the row's id, vector, 0-based
    list index, and echoed float64 norm; ``cents`` is the
    ``[(index, centroid_vector)]`` list for query-side probing.
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    base = corpus.select(F.col(id_col), F.col(vec_col))
    if centroids == "kmeans":
        # Trained centroids (better list balance/recall on clustered
        # corpora) — driver-side numpy on a bounded sample, not
        # SQL-reproducible, so min_ids stays the oracle-graded default.
        cents = list(
            enumerate(_kmeans_centroids(base, id_col, vec_col, n_lists, seed))
        )
    else:
        if centroids == "sample":
            picked = base.orderBy(F.rand(seed)).limit(int(n_lists)).collect()
        elif centroids == "min_ids":
            picked = (
                base.orderBy(F.col(id_col).asc()).limit(int(n_lists)).collect()
            )
        else:
            raise ValueError(f"unknown centroid rule: {centroids!r}")
        cents = [(i, list(r[1])) for i, r in enumerate(picked)]

    # (dim, n_lists) centroid matrix + driver-side norms (math.sqrt =
    # correctly-rounded IEEE = np.sqrt = SQL sqrt).
    cent_cols = np.array([cv for _, cv in cents], dtype=np.float64).T
    cent_norms = np.array([_py_norm(cv) for _, cv in cents], dtype=np.float64)
    n_dims = cent_cols.shape[0]

    def assign_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_mat = np.array(list(pdf["cv"]), dtype=np.float64)
            n_rows = c_mat.shape[0]
            # Dimension-at-a-time accumulation: every element performs
            # acc = acc + x_i*y_i in index order — the same float64
            # operation sequence as the scalar left-to-right fold, just
            # for all (row, centroid) cells at once.
            dots = np.zeros((n_rows, cent_cols.shape[1]))
            sq = np.zeros(n_rows)
            for i in range(n_dims):
                xi = c_mat[:, i]
                dots = dots + xi[:, None] * cent_cols[i][None, :]
                sq = sq + xi * xi
            nrm = np.sqrt(sq)
            scores = dots / (nrm[:, None] * cent_norms[None, :])
            # argmax with ties to the LARGER centroid index — matches
            # reverse(array_sort(struct(s, c))) which orders ties by c
            # descending. (All-NaN rows also agree: both pick the max c.)
            flipped = scores[:, ::-1]
            best = scores.shape[1] - 1 - np.argmax(flipped, axis=1)
            # Echo the corpus norm (np.sqrt == math.sqrt == SQL sqrt,
            # over the fold-order-identical sq) so verification scores
            # with dot/(qnrm*nrm) instead of re-folding both norms per
            # candidate pair.
            yield pdf.assign(lst=best.astype("int32"), nrm=nrm)

    c_in = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    )
    # corpus rows land in exactly one list
    assigned = c_in.mapInPandas(
        assign_kernel,
        StructType(
            list(c_in.schema.fields)
            + [StructField("lst", IntegerType()), StructField("nrm", DoubleType())]
        ),
    )
    return assigned, cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: str = "min_ids",
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into
    ``n_lists`` inverted lists by nearest centroid; each query probes
    its ``n_probe`` closest lists only.

    Centroids are corpus vectors chosen without iterative training,
    so the operator stays a pure two-pass DataFrame computation (swap
    in k-means centroids for better recall if an offline training
    step is acceptable). ``centroids="min_ids"`` (default) takes the
    ``n_lists`` smallest-id vectors — fully deterministic and
    SQL-reproducible, which is what lets
    ``plans.oracle_ext.ivf_topk_sql`` mirror this operator
    bit-for-bit; ``centroids="sample"`` takes a seeded random sample
    (better spread on adversarially ordered corpora, but Spark's
    partition-seeded rand is not reproducible in an external oracle);
    ``centroids="kmeans"`` trains seeded spherical k-means on a
    bounded deterministic sample (:func:`_kmeans_centroids`) — the
    production choice for recall/balance, opt-in because the numpy
    training step is not SQL-reproducible.
    Candidates shrink ~n_lists/n_probe-fold versus brute force;
    recall depends on list balance. Output schema matches
    :func:`cosine_topk_bruteforce`.

    Scale: corpus-side list assignment is a vectorized numpy
    mapInPandas stage (one Arrow batch scores all ``n_lists``
    centroids at once) — NOT ``n_lists`` interpreted higher-order
    dot-product folds per row, which at 100 TB is pure wasted CPU on
    the scan. The kernel vectorizes ACROSS rows while accumulating
    dimension-by-dimension, so each row's dot/norm is the identical
    left-to-right float64 fold as :func:`_dot` / the oracle's
    ``list_reduce`` — bit-identical assignment, hash-gate safe.
    Query-side probing (a handful of rows) stays a column expression.
    """
    c, cents = _ivf_corpus_assign(
        corpus, id_col, vec_col, n_lists, seed, centroids
    )

    def nearest_lists(vec: Column, vnorm: Column, n: int) -> Column:
        """ids of the n closest centroids (by cosine), as an array.
        ``vnorm`` is the caller's once-folded row norm (so it is not
        re-folded per centroid); centroid norms use math.sqrt
        (correctly-rounded IEEE, same as SQL sqrt) over a
        left-to-right fold — bit-identical to the oracle's _norm_sql
        on the same float32-widened values."""
        scored = F.array(
            *[
                F.struct(
                    (
                        _dot(vec, F.array(*[F.lit(float(x)) for x in cv]))
                        / (vnorm * F.lit(_py_norm(cv)))
                    ).alias("s"),
                    F.lit(ci).alias("c"),
                )
                for ci, cv in cents
            ]
        )
        ordered = F.reverse(F.array_sort(scored))
        return F.transform(F.slice(ordered, 1, n), lambda x: x["c"])

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qnrm"),
    ).select(
        "query_id",
        "qv",
        "qnrm",
        F.explode(
            nearest_lists(F.col("qv"), F.col("qnrm"), int(n_probe))
        ).alias("lst"),
    )
    pairs = c.join(F.broadcast(q), "lst").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # Same float expression as cosine_similarity(qv, cv) — the norms
    # are per-row values computed once (query side: one fold per query
    # row; corpus side: echoed from the assignment kernel), not
    # re-evaluated per candidate pair.
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("nrm")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_lists: int = 16,
    seed: int = 42,
    centroids: str = "min_ids",
    max_iterations: int = 50,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and comparing pairs ONLY
    within a cluster — near-identical meaning without verbatim
    overlap. Cluster assignment is the shared IVF stage
    (:func:`_ivf_corpus_assign`; ``centroids="min_ids"`` keeps it
    SQL-reproducible for the oracle, ``"kmeans"`` is the production
    choice); within-cluster pairs at rounded cosine >=
    ``threshold`` become edges, connected components merge chains,
    and the min-id member of each component survives (a deterministic
    stand-in for the paper's keep-farthest-from-centroid rule).

    Output: ``(<id_col>, list_id, kept)`` — one row per input vector,
    its cluster, and whether it survives.

    Scale: the only quadratic term is within-cluster — cluster count
    scales with corpus size (n_lists ~ N/target_cluster_size in the
    paper), so pair work stays ~N * cluster_size; the assignment
    stage is one Arrow-vectorized scan, norms are echoed (never
    re-folded per pair), and components use the bounded hash-min
    rounds. Cross-cluster near-dups are missed by design — the
    paper's accepted approximation.
    """
    from .dedup import connected_components

    assigned, _ = _ivf_corpus_assign(
        corpus, id_col, vec_col, n_lists, seed, centroids
    )
    # Three consumers read the assignment (both sides of the
    # within-cluster pair join and the final keep/drop select) — an
    # unpersisted frame re-runs the Arrow assignment kernel over the
    # whole corpus once per consumer (round 11: measured 3 scans at
    # sf0.1; the persist leaves one). Freed by the session's
    # clearCache discipline, same as the jaccard docs persists.
    assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    l = assigned.select(
        "lst",
        F.col("neighbor_id").alias("l_id"),
        F.col("cv").alias("lv"),
        F.col("nrm").alias("lnrm"),
    )
    r = assigned.select(
        "lst",
        F.col("neighbor_id").alias("r_id"),
        F.col("cv").alias("rv"),
        F.col("nrm").alias("rnrm"),
    )
    edges = (
        l.join(r, "lst")
        .filter(F.col("l_id") < F.col("r_id"))
        .select(
            "l_id",
            "r_id",
            F.round(
                _dot(F.col("lv"), F.col("rv"))
                / (F.col("lnrm") * F.col("rnrm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )
    # Every vector lands in exactly one list (the assign kernel emits
    # one row per input row), so each unordered pair appears at most
    # once — the CC edge-dedup shuffle would be a full 2|E| distinct
    # for nothing (hash-min is correct under duplicates regardless).
    comps = connected_components(
        edges, "l_id", "r_id", max_iterations=max_iterations,
        dedup_edges=False,
    )
    return (
        assigned.select(
            F.col("neighbor_id").alias(id_col),
            F.col("lst").cast("int").alias("list_id"),
        )
        .join(
            comps.select(F.col("id").alias(id_col), "comp"), id_col, "left"
        )
        .select(
            id_col,
            "list_id",
            (
                F.col("comp").isNull() | (F.col("comp") == F.col(id_col))
            ).alias("kept"),
        )
    )


def lsh_banded_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bands: int = 8,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """OR-amplified sign-LSH approximate top-k — the production ANN
    scale path: ``n_bands`` independent ``n_planes``-bit buckets, a
    corpus vector is a candidate for a query if they collide in ANY
    band, then exact cosine ranks the survivors. The top-k analogue of
    :func:`cosine_near_duplicates_lsh_banded` (same banding, same
    candidates→verify split); recall@5 rises from ~0.16 (single band)
    to 0.80 at the default 8×4 and 0.94 at 16×4 on the sf0.1
    embeddings (BENCHMARKS.md recall table) while candidates stay
    ~n_bands/2^n_planes of brute force.

    The ``n_bands * n_planes`` hyperplanes come from ONE sequential
    :func:`hyperplanes` stream chunked per band, so band 0 is exactly
    the plane set :func:`lsh_bucket_topk` uses with the same
    seed/n_planes — banded candidates are a structural superset of the
    single-band path, hence recall is provably >= single-band (pinned
    by ``tests/test_similarity.py::test_banded_topk_recall_ordering``).

    Scale: vectors are NOT carried through the band explosion — both
    sides hash in a vectorized numpy kernel (:func:`_sign_lsh_sigs`,
    fold-order-identical to the oracle), the tiny query signature set
    broadcasts against the corpus signatures (map-side join, no
    corpus shuffle), candidate pairs are de-duplicated, and vectors
    (with their once-computed norms) join back only for survivors.
    Output schema matches :func:`cosine_topk_bruteforce`.
    """
    n_bands, n_planes = int(n_bands), int(n_planes)
    planes = hyperplanes(dim, n_bands * n_planes, seed)
    cbase = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    qbase = queries.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    c_sigs = _sign_lsh_sigs(cbase.select("id", "v"), planes, n_bands, n_planes)
    q_sigs = _sign_lsh_sigs(qbase.select("id", "v"), planes, n_bands, n_planes)
    C = c_sigs.alias("C")
    Q = q_sigs.alias("Q")
    cands = (
        C.join(
            F.broadcast(Q),
            (F.col("C.band") == F.col("Q.band"))
            & (F.col("C.blk") == F.col("Q.blk"))
            & (F.col("C.id") != F.col("Q.id")),
        )
        .select(
            F.col("Q.id").alias("query_id"), F.col("C.id").alias("neighbor_id")
        )
        .distinct()
    )
    qv = qbase.select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    cv = cbase.select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    scored = (
        cands.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("qnrm") * F.col("cnrm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
    )


def cosine_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_expr: Column | None = None,
) -> DataFrame:
    """Pairs with cosine >= threshold. ``block_expr`` (a column over
    the input) optionally restricts the join to equal-block pairs —
    at scale pass an LSH bucket; without it this is the exact
    all-pairs baseline. Output: ``(l_id, r_id, cosine)``."""
    # Norm is per-row: compute it once before the pair join instead of
    # twice per pair. dot/(l_nrm*r_nrm) is the same float expression as
    # cosine_similarity, so oracle parity is unaffected. block_expr is
    # evaluated over the ORIGINAL input columns (before the internal
    # rename) so callers write it against their own schema.
    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    ]
    if block_expr is not None:
        cols.append(block_expr.alias("blk"))
    if block_expr is not None:
        # Rebalance BEFORE the projection: the norm and bucket
        # expressions are interpreted per-row folds over the vector,
        # and a small parquet scan arrives as one partition —
        # projecting first would serialize that compute on one core
        # ahead of the bucket exchange (round 11: the sf0.1 blocked
        # query ran 5 single-task stages, 2.3 s). No-op at real scale.
        # Rebalance the FULL input (not a pre-projection): block_expr
        # is documented to see the original input columns, which may
        # include fields beyond (id, vec) (ADVICE r11). Column pruning
        # through the round-robin exchange still drops anything the
        # projection doesn't reference.
        sel = _ensure_parallelism(df).select(*cols)
        L = sel.alias("L")
        R = sel.alias("R")
        # Equi-join on the bucket: shuffles both sides on blk — the
        # scale plan (SortMergeJoin/ShuffledHashJoin, no cartesian).
        pairs = L.join(
            R,
            (F.col("L.blk") == F.col("R.blk")) & (F.col("L.id") < F.col("R.id")),
        )
    else:
        # A constant join key would hash every row to ONE shuffle
        # partition; a cross join keeps parallelism = |L parts|·|R parts|
        # (left side ONLY repartitioned — rebalancing both sides would
        # multiply the cartesian's partition count; small parquet
        # scans arrive as a single partition).
        sel = df.select(*cols)
        L = _ensure_parallelism(sel).alias("L")
        R = sel.alias("R")
        pairs = L.crossJoin(R).filter(F.col("L.id") < F.col("R.id"))
    return (
        pairs
        .select(
            F.col("L.id").alias("l_id"),
            F.col("R.id").alias("r_id"),
            F.round(
                _dot(F.col("L.v"), F.col("R.v"))
                / (F.col("L.nrm") * F.col("R.nrm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def ann_recall(approx: DataFrame, exact: DataFrame) -> float:
    """Mean recall@k of an approximate top-k result against the exact
    one: |approx ∩ exact| / |exact| averaged over queries. Both inputs
    use the ``(query_id, neighbor_id, ...)`` top-k schema. One
    aggregate job; returns a driver-side float (instrumentation, not
    a pipeline stage)."""
    a = approx.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    per_q = (
        e.join(a, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hit"))
    )
    totals = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n"))
    row = (
        totals.join(per_q, "query_id", "left")
        .select(
            F.avg(
                F.coalesce(F.col("hit"), F.lit(0)).cast("double")
                / F.col("n").cast("double")
            ).alias("recall")
        )
        .collect()[0]
    )
    return float(row.recall) if row.recall is not None else 0.0


def _kmeans_centroids(
    base: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    seed: int,
    sample_size: int = 4096,
    iters: int = 10,
):
    """Seeded spherical k-means trained driver-side on a bounded
    deterministic sample (``orderBy(xxhash64(id, seed)) LIMIT n`` — a
    seeded pseudo-random draw that is reproducible across runs and
    cluster layouts, unlike partition-seeded ``rand``). The collect is
    capped at ``sample_size`` rows regardless of corpus size, so the
    offline step stays O(sample) at 100 TB while list ASSIGNMENT stays
    fully distributed. k-means++ seeding, then Lloyd iterations with
    cosine assignment (mean + renormalize); empty clusters keep their
    previous centroid. Returns ``n_lists`` float lists."""
    import numpy as np

    rows = (
        base.select(F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(int(seed))))
        .limit(int(sample_size))
        .collect()
    )
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(X, axis=1)
    X = X[nrm > 0] / nrm[nrm > 0, None]
    k = min(int(n_lists), len(X))
    rng = np.random.RandomState(int(seed))
    # k-means++ on the unit sphere: D(x) = 1 - max cosine to chosen.
    chosen = [int(rng.randint(len(X)))]
    for _ in range(1, k):
        sims = X @ X[chosen].T
        d = np.clip(1.0 - sims.max(axis=1), 0.0, None)
        tot = d.sum()
        if tot <= 0:
            # all points already coincide with a centroid — pad from
            # the remaining indices deterministically
            rest = [i for i in range(len(X)) if i not in chosen]
            chosen.append(rest[0] if rest else chosen[-1])
            continue
        chosen.append(int(rng.choice(len(X), p=d / tot)))
    C = X[chosen].copy()
    for _ in range(int(iters)):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members) == 0:
                continue
            m = members.mean(axis=0)
            n = np.linalg.norm(m)
            if n > 0:
                C[j] = m / n
    return [[float(x) for x in c] for c in C]


def _sign_lsh_sigs(
    base: DataFrame, planes: list[list[float]], n_bands: int, n_planes: int
) -> DataFrame:
    """``(id, v)`` → per-band sign-LSH signatures ``(id, band, blk)``
    via a vectorized numpy mapInPandas kernel. The kernel accumulates
    dimension-at-a-time, so every dot product is the identical
    left-to-right float64 fold as :func:`_dot` /
    :func:`lsh_bucket_expr` / the DuckDB oracle's ``list_reduce`` —
    buckets are bit-identical to the expression path, hash-gate safe.
    Shared by the banded near-dup, the embedding LSH index, and its
    per-batch query matcher (signatures computed at different times
    bucket-join correctly)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    planes_mat = np.array(planes, dtype=np.float64)  # (bands*planes, dim)

    def sig_kernel(batches):
        for pdf in batches:
            # NULL vectors can never reach a non-null cosine >= t, so
            # dropping them from the signature stream is lossless.
            pdf = pdf[pdf["v"].notna()]
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["v"]), dtype=np.float64)
            n_rows = V.shape[0]
            # Dimension-at-a-time accumulation == the scalar
            # left-to-right fold of _dot, per (row, plane) cell.
            dots = np.zeros((n_rows, planes_mat.shape[0]))
            for i in range(V.shape[1]):
                dots = dots + V[:, i][:, None] * planes_mat[:, i][None, :]
            bits = dots > 0
            ids = pdf["id"].to_numpy()
            out = []
            for b in range(n_bands):
                blk = np.zeros(n_rows, dtype=np.int64)
                for j in range(n_planes):
                    blk |= bits[:, b * n_planes + j].astype(np.int64) << j
                out.append(
                    pd.DataFrame(
                        {"id": ids, "band": np.full(n_rows, b, "int32"), "blk": blk}
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return base.mapInPandas(
        sig_kernel,
        StructType(
            [
                base.schema["id"],
                StructField("band", IntegerType()),
                StructField("blk", LongType()),
            ]
        ),
    )


@dataclass
class EmbeddingLshIndex:
    """Precomputed banded sign-LSH index over a static embedding
    corpus: per-band signatures for bucketing plus the vectors (and
    norms) for exact cosine verification, both persisted. Build once
    with :func:`embedding_lsh_index`, then match any number of query
    batches (e.g. streaming micro-batches) with
    :func:`embedding_lsh_match` — the corpus is never re-hashed. The
    embedding analogue of :class:`..dedup.MinHashIndex`."""

    sigs: DataFrame
    vecs: DataFrame
    planes: list[list[float]]
    n_bands: int
    n_planes: int
    seed: int = 42

    def unpersist(self) -> None:
        self.sigs.unpersist()
        self.vecs.unpersist()


def embedding_lsh_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 4,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> EmbeddingLshIndex:
    """Build the static-corpus side of query-vs-corpus embedding
    near-dup matching. At scale, persist is the minimum; for a
    long-lived ingest pipeline persist the index with
    :func:`write_embedding_lsh_index` (tables bucketed by (band, blk)
    / id) so every micro-batch joins with zero corpus-side Exchange —
    proven end-to-end in ``tools/index_bucket_bench.py``."""
    n_bands, n_planes = int(n_bands), int(n_planes)
    planes = hyperplanes(dim, n_bands * n_planes, seed)
    base = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    vecs = base.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = _sign_lsh_sigs(vecs.select("id", "v"), planes, n_bands, n_planes).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return EmbeddingLshIndex(
        sigs=sigs, vecs=vecs, planes=planes, n_bands=n_bands,
        n_planes=n_planes, seed=int(seed),
    )


def write_embedding_lsh_index(
    index: EmbeddingLshIndex, name: str, num_buckets: int = 8
) -> str:
    """Persist the index as co-bucketed catalog tables — the
    long-lived-ingest layout: ``{name}_sigs`` bucketed by
    ``(band, blk)`` (the match join's keys) and ``{name}_vecs``
    bucketed by ``id`` (the verification join-back key). A corpus
    bucketed this way joins every micro-batch with NO Exchange on the
    corpus side — only the (small) batch shuffles into the bucket
    layout; the 100 TB corpus is hashed once at write time, never per
    batch. Repartition-on-bucket-key first → one file per bucket, so
    the bucket-sort holds file-wide. Demonstrated exit-code-gated in
    ``tools/index_bucket_bench.py``; load with
    :func:`read_embedding_lsh_index`."""
    from ..sources import write_bucketed

    nb = int(num_buckets)
    write_bucketed(
        index.sigs.repartition(nb, "band", "blk"),
        f"{name}_sigs", ["band", "blk"], nb,
    )
    write_bucketed(
        index.vecs.repartition(nb, "id"), f"{name}_vecs", ["id"], nb
    )
    # Persist the build parameters: the hyperplanes are deterministic
    # in them, so loading with DIFFERENT parameters silently yields
    # ~zero matches — the meta row lets read_embedding_lsh_index
    # default to the truth and hard-fail on a mismatch instead.
    spark = index.sigs.sparkSession
    spark.createDataFrame(
        [(
            len(index.planes[0]), int(index.n_bands), int(index.n_planes),
            int(index.seed),
        )],
        "dim int, n_bands int, n_planes int, seed int",
    ).write.mode("overwrite").saveAsTable(f"{name}_meta")
    return name


def read_embedding_lsh_index(
    spark,
    name: str,
    dim: int | None = None,
    n_bands: int | None = None,
    n_planes: int | None = None,
    seed: int | None = None,
) -> EmbeddingLshIndex:
    """Load an index persisted by :func:`write_embedding_lsh_index`.
    ``dim``/``n_bands``/``n_planes``/``seed`` default to the persisted
    build-time values (``{name}_meta``); explicitly passed values are
    validated against them (a mismatch raises — the regenerated
    hyperplanes would silently never collide with the stored
    signatures). Indexes written before seed was persisted fall back
    to the legacy default 42. The seeded :func:`hyperplanes` stream
    then regenerates the bit-identical plane set."""
    from .dedup import _meta_param

    meta = None
    if spark.catalog.tableExists(f"{name}_meta"):
        meta = spark.table(f"{name}_meta").collect()[0]
    dim = _meta_param(dim, meta and meta.dim, 64, "dim")
    n_bands = _meta_param(n_bands, meta and meta.n_bands, 4, "n_bands")
    n_planes = _meta_param(n_planes, meta and meta.n_planes, 4, "n_planes")
    # Older meta tables predate the seed column — getattr, not row key.
    seed = _meta_param(seed, meta and getattr(meta, "seed", None), 42, "seed")
    return EmbeddingLshIndex(
        sigs=spark.table(f"{name}_sigs"),
        vecs=spark.table(f"{name}_vecs"),
        planes=hyperplanes(dim, n_bands * n_planes, seed),
        n_bands=n_bands,
        n_planes=n_planes,
        seed=seed,
    )


def embedding_lsh_match(
    query_df: DataFrame,
    index: EmbeddingLshIndex,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicates of ``query_df`` vectors against the indexed
    corpus: ``(q_id, c_id, cosine)``. Banded-LSH candidates (query
    signatures ⋈ index signatures on (band, blk), collision in ANY
    band) then exact cosine between query and corpus vectors. Same
    recall contract as :func:`cosine_near_duplicates_lsh_banded`.
    Self-matches are not filtered — callers re-checking an
    already-indexed vector should drop ``q_id == c_id``."""
    qbase = query_df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    q_sigs = _sign_lsh_sigs(
        qbase.select("id", "v"), index.planes, index.n_bands, index.n_planes
    )
    Q = q_sigs.alias("Q")
    C = index.sigs.alias("C")
    cands = (
        Q.join(
            C,
            (F.col("Q.band") == F.col("C.band"))
            & (F.col("Q.blk") == F.col("C.blk")),
        )
        .select(F.col("Q.id").alias("qid"), F.col("C.id").alias("cid"))
        .distinct()
    )
    qv = qbase.select(
        F.col("id").alias("qid"), F.col("v").alias("lv"), F.col("nrm").alias("lnrm")
    )
    cv = index.vecs.select(
        F.col("id").alias("cid"), F.col("v").alias("rv"), F.col("nrm").alias("rnrm")
    )
    return (
        cands.join(qv, "qid")
        .join(cv, "cid")
        .select(
            F.col("qid").alias("q_id"),
            F.col("cid").alias("c_id"),
            F.round(
                _dot(F.col("lv"), F.col("rv")) / (F.col("lnrm") * F.col("rnrm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def cosine_near_duplicates_lsh_banded(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 4,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """OR-amplified sign-LSH near-dup: ``n_bands`` independent
    ``n_planes``-bit buckets; a pair is a candidate if it collides in
    ANY band — the cosine analogue of MinHash banding
    (:func:`..dedup._minhash_band_sigs`). Single-band sign-LSH misses
    any near-pair that differs in one sign bit; OR-ing bands drives
    recall toward 1 at the cost of ~n_bands× candidate volume
    (standard s-curve tradeoff).

    The ``n_bands * n_planes`` hyperplanes come from ONE sequential
    :func:`hyperplanes` stream chunked per band, so band 0 is exactly
    the single-band plane set — banded candidates are a structural
    superset of :func:`cosine_near_duplicates` with the same
    seed/n_planes, hence recall is provably >= single-band.

    Scale: vectors are NOT carried through the band explosion — the
    bucket self-join runs on narrow ``(id, band, blk)`` rows (two
    longs + an int), candidate pairs are de-duplicated, and vectors
    join back only for the surviving pairs (same shape as the MinHash
    candidates→verify split). All equi-joins, AQE-splittable; no
    cartesian. Signature computation is a vectorized numpy
    mapInPandas stage — NOT ``n_bands * n_planes`` interpreted
    higher-order dot folds per corpus row (the same
    wasted-CPU-on-the-scan hazard as the IVF assignment); the kernel
    accumulates dimension-at-a-time so every dot is the identical
    left-to-right float64 fold as :func:`lsh_bucket_expr` / the
    oracle's ``list_reduce`` — bit-identical buckets, hash-gate safe.
    Output: ``(l_id, r_id, cosine)``.
    """
    n_bands, n_planes = int(n_bands), int(n_planes)
    planes = hyperplanes(dim, n_bands * n_planes, seed)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    # Both sides of the bucket self-join read the signatures, and the
    # self-join gets NO exchange reuse (verified on the executed plan:
    # two MapInPandas nodes, zero ReusedExchange) — persist, exactly
    # like _minhash_band_sigs' band_sig, or the kernel and the scan
    # under it run twice (round 11).
    sig = _sign_lsh_sigs(
        base.select("id", "v"), planes, n_bands, n_planes
    ).persist(StorageLevel.MEMORY_AND_DISK)
    L = sig.alias("L")
    R = sig.alias("R")
    cands = (
        L.join(
            R,
            (F.col("L.band") == F.col("R.band"))
            & (F.col("L.blk") == F.col("R.blk"))
            & (F.col("L.id") < F.col("R.id")),
        )
        .select(F.col("L.id").alias("lid"), F.col("R.id").alias("rid"))
        .distinct()
    )
    lb = base.select(
        F.col("id").alias("lid"), F.col("v").alias("lv"), F.col("nrm").alias("lnrm")
    )
    rb = base.select(
        F.col("id").alias("rid"), F.col("v").alias("rv"), F.col("nrm").alias("rnrm")
    )
    return (
        cands.join(lb, "lid")
        .join(rb, "rid")
        .select(
            F.col("lid").alias("l_id"),
            F.col("rid").alias("r_id"),
            F.round(
                _dot(F.col("lv"), F.col("rv")) / (F.col("lnrm") * F.col("rnrm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (unit Gaussians) for
    sign-LSH. Shared by the Spark operator and any oracle."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_bucket_expr(vec_col: Column, planes: list[list[float]]) -> Column:
    """Bucket id = sign bits against each hyperplane, packed as a
    long. Pure column expression (no UDF)."""
    bucket = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        s = _dot(vec_col, plane)
        bucket = bucket + F.when(s > 0, F.lit(2 ** j)).otherwise(F.lit(0))
    return bucket


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: join only within ONE matching sign-LSH
    bucket (2^n_planes buckets). Candidates per query shrink by
    ~2^n_planes, but a single band loses any neighbor that differs in
    even one sign bit — recall@5 is ~0.16 with the default 4 planes on
    the sf0.1 embeddings (BENCHMARKS.md). This is the maximal-pruning
    building block; the production ANN path is
    :func:`lsh_banded_topk`, which ORs several such bands to amplify
    recall (or :func:`ivf_topk` when list-balanced probing fits the
    corpus better).

    Corpus-side bucketing is a vectorized numpy mapInPandas stage
    (dimension-at-a-time accumulation == the scalar left-to-right
    fold, so buckets are bit-identical to :func:`lsh_bucket_expr`,
    which the tiny query side still uses); the vector column is
    echoed through the kernel, so no extra shuffle is introduced.
    Output schema matches :func:`cosine_topk_bruteforce`."""
    import numpy as np
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    planes = hyperplanes(dim, n_planes, seed)
    planes_mat = np.array(planes, dtype=np.float64)

    def bucket_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["cv"]), dtype=np.float64)
            n_rows = V.shape[0]
            dots = np.zeros((n_rows, planes_mat.shape[0]))
            sq = np.zeros(n_rows)
            for i in range(V.shape[1]):
                xi = V[:, i]
                dots = dots + xi[:, None] * planes_mat[:, i][None, :]
                sq = sq + xi * xi
            blk = np.zeros(n_rows, dtype=np.int64)
            for j in range(planes_mat.shape[0]):
                blk |= (dots[:, j] > 0).astype(np.int64) << j
            # Echo the corpus norm (fold-order-identical sq, np.sqrt ==
            # SQL sqrt) so verification never re-folds it per pair.
            yield pdf.assign(blk=blk, nrm=np.sqrt(sq))

    c_in = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    )
    c = c_in.mapInPandas(
        bucket_kernel,
        StructType(
            list(c_in.schema.fields)
            + [StructField("blk", LongType()), StructField("nrm", DoubleType())]
        ),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qnrm"),
        lsh_bucket_expr(F.col(vec_col), planes).alias("blk"),
    )
    pairs = c.join(F.broadcast(q), "blk").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # Per-row norms computed once (query fold / kernel echo), never
    # per candidate pair — same float values as cosine_similarity.
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("nrm")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
    )


def embedding_stats(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector validation stats — the data-QA pass that runs
    BEFORE any ANN/near-dup job at scale (one corrupt batch of NaN
    or zero vectors silently poisons every cosine downstream):

    - ``dim``: array length (-1 for NULL vectors) — a corpus whose
      ``dim`` column isn't constant mixes embedding versions;
    - ``n_null``: NULL elements inside the vector;
    - ``n_nan``: NaN elements;
    - ``n_zero``: exact-0.0 elements;
    - ``sq_norm``: sum of squares as a round-6 double. Computed with
      a left-to-right ``aggregate`` fold so the summation ORDER is
      fixed per row — bit-stable across engines, unlike a
      parallel/tree reduction (the same determinism discipline as
      the cosine kernels); NaN propagates (a NaN vector reports NaN,
      not a number).

    Per-row outputs only (no cross-row float aggregation — corpus
    rollups of these columns are exact integer/boolean counts the
    caller can take with a plain groupBy). Scan-shaped: no shuffle,
    no UDF.
    """
    v = F.col(vec_col)
    is_nan = lambda x: F.isnan(x) & x.isNotNull()
    return df.select(
        F.col(id_col).alias("id"),
        F.when(v.isNull(), F.lit(-1)).otherwise(F.size(v)).alias("dim"),
        F.size(F.filter(v, lambda x: x.isNull())).alias("n_null"),
        F.size(F.filter(v, is_nan)).alias("n_nan"),
        F.size(F.filter(v, lambda x: x == F.lit(0.0))).alias("n_zero"),
        F.round(
            F.aggregate(
                v,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            ),
            6,
        ).alias("sq_norm"),
    )
