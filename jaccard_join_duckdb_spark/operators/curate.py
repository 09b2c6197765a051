"""End-to-end corpus curation — the composed training-data pipeline.

Beyond-reference extension: chains the engine's pipeline operators the
way a pre-training data run does —

1. quality gate   (:func:`..functions.text.text_stats` composite score
                   + minimum token count),
2. language gate  (optional — :func:`..functions.text.lang_id`
                   heuristic, keep ``allowed_langs`` only),
2b. repetition gate (optional — :func:`..functions.text.
                   repetition_stats` Gopher-style bounds on
                   duplicate-token ratio / top-token fraction),
3. exact dedup    (:func:`.dedup.drop_exact_duplicates`, min-id
                   survivor per identical text),
4. near-dup dedup (:func:`.dedup.minhash_near_duplicates` pairs →
                   :func:`.dedup.connected_components` clusters →
                   keep the minimum id of every cluster),
5. embedding dedup (optional — semantic near-dups the token stages
                   can't see: :func:`.similarity.
                   cosine_near_duplicates_lsh_banded` pairs over the
                   survivors' embeddings → components → min-id keep).

Everything stays a lazy DataFrame graph except the near-dup stages'
bounded driver-side iteration (hash-min rounds) — no row data ever
reaches the driver, so the same code runs at cluster scale: the
quality/language gates are scan-side filters, exact dedup one
hash-groupBy, the MinHash stage shuffles signatures/bands exactly as
documented in :mod:`.dedup`, and the embedding stage runs the banded
candidates→verify split of :mod:`.similarity` on the (already
thinned) survivor set — cheap stages cut the corpus before expensive
ones, as real pipelines order them.

The DuckDB oracle twin (plans/oracle_ext.curate_corpus_sql) replicates
every stage — same quality arithmetic, same stopword-hit language
pick, same md5 grouping, same minhash parameters, same hyperplane
buckets, same recursive-CTE component labels — so the composed
pipeline is hash-checked end-to-end, not just stage by stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import lang_id, text_stats
from ..tokenizers import Tokenizer
from .dedup import (
    connected_components,
    drop_exact_duplicates,
    minhash_near_duplicates,
)

__all__ = ["curate_corpus", "corpus_diff"]


def curate_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_quality: float = 0.3,
    min_tokens: int = 20,
    neardup_threshold: float = 0.9,
    tokenizer: Tokenizer | None = None,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    cc_max_iterations: int = 50,
    allowed_langs: list[str] | None = None,
    max_dup_token_ratio: float | None = None,
    max_top_token_frac: float | None = None,
    embeddings: DataFrame | None = None,
    emb_id_col: str = "vec_id",
    emb_vec_col: str = "embedding",
    emb_threshold: float = 0.95,
    emb_bands: int = 4,
    emb_planes: int = 4,
    emb_dim: int = 64,
    emb_seed: int = 42,
) -> DataFrame:
    """Surviving documents as ``(id_col, n_tokens, quality)``.

    A document survives iff it passes the quality gate (and, when
    ``allowed_langs`` is given, the language gate) AND is the
    minimum-id representative of its exact-text group, its MinHash
    near-duplicate cluster, and — when ``embeddings`` is given — its
    embedding near-duplicate cluster. Each stage is computed on the
    previous stage's survivors, as real pipelines do — junk is cut
    before the expensive stages. Clusters are hash-min connected
    components (:func:`.dedup.connected_components`), whose rounds
    ``cc_max_iterations`` bounds.

    ``embeddings`` rows join to documents on ``emb_id_col == id_col``
    (documents without an embedding simply cannot be semantic
    duplicates); pairs come from the banded sign-LSH path, so the
    stage never goes all-pairs.
    """
    stats = text_stats(df, id_col, text_col).select(
        id_col, "n_tokens", "quality"
    )
    kept_stats = stats.filter(
        (F.col("quality") >= F.lit(float(min_quality)))
        & (F.col("n_tokens") >= F.lit(int(min_tokens)))
    )
    kept_ids = kept_stats.select(id_col)
    if allowed_langs:
        in_lang = lang_id(df, id_col, text_col).filter(
            F.col("pred_lang").isin([str(x) for x in allowed_langs])
        )
        kept_ids = kept_ids.join(in_lang.select(id_col), id_col, "left_semi")
    if max_dup_token_ratio is not None or max_top_token_frac is not None:
        # Repetition gate (Gopher-style): drop degenerate/boilerplate
        # documents the length/punct quality score misses. Scan-side
        # filter like the other gates — runs before the expensive
        # dedup stages.
        from ..functions.text import repetition_stats

        rep = repetition_stats(df, id_col, text_col)
        cond = F.lit(True)
        if max_dup_token_ratio is not None:
            cond = cond & (
                F.col("dup_token_ratio") <= F.lit(float(max_dup_token_ratio))
            )
        if max_top_token_frac is not None:
            cond = cond & (
                F.col("top_token_frac") <= F.lit(float(max_top_token_frac))
            )
        ok_rep = rep.filter(cond).select(F.col("id").alias(id_col))
        kept_ids = kept_ids.join(ok_rep, id_col, "left_semi")
    kept = df.join(kept_ids, id_col, "left_semi")
    # Read twice (near-dup pair generation AND the final survivor
    # anti-join) — persist so the scan → gates → exact-dedup chain
    # executes once.
    kept = drop_exact_duplicates(kept, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = minhash_near_duplicates(
        kept, id_col, text_col, neardup_threshold,
        tokenizer=tokenizer, num_hashes=num_hashes, bands=bands, seed=seed,
    )
    labels = connected_components(
        pairs, "l_id", "r_id", max_iterations=cc_max_iterations
    )
    losers = labels.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    survivors = kept.join(losers, id_col, "left_anti")
    if embeddings is not None:
        from .similarity import cosine_near_duplicates_lsh_banded

        surv_vecs = embeddings.select(
            F.col(emb_id_col).alias(id_col), F.col(emb_vec_col).alias("__v")
        ).join(survivors.select(id_col), id_col, "left_semi")
        epairs = cosine_near_duplicates_lsh_banded(
            surv_vecs, id_col, "__v", emb_threshold,
            n_bands=emb_bands, n_planes=emb_planes, dim=emb_dim,
            seed=emb_seed,
        )
        elabels = connected_components(
            epairs, "l_id", "r_id", max_iterations=cc_max_iterations
        )
        elosers = elabels.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias(id_col)
        )
        survivors = survivors.join(elosers, id_col, "left_anti")
    return (
        survivors
        .join(kept_stats, id_col)
        .select(id_col, "n_tokens", "quality")
    )


def corpus_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Snapshot diff between two corpus versions — the audit view an
    incremental ingest pipeline publishes with every refresh: per
    document id, ``added`` (only in new), ``removed`` (only in old),
    ``changed`` (both, content fingerprints differ), or ``unchanged``.
    Content identity is :func:`..functions.text.doc_fingerprint`'s
    whitespace-normalized md5, so formatting-only churn (same words,
    different spacing) reads as unchanged — the signal that matters
    for deciding what to re-embed / re-dedup.

    Scale: each side collapses to ``(id, fingerprint)`` at scan time
    (column-pruned — text never survives past the md5), then ONE
    full-outer hash equi-join on id. Output:
    ``(id, status, old_fingerprint, new_fingerprint)``.
    """
    from ..functions.text import doc_fingerprint

    # presence markers, NOT fingerprint NULLness: a NULL text row has
    # a NULL fingerprint but still EXISTS on its side
    o = doc_fingerprint(old_df, id_col, text_col).select(
        F.col(id_col).alias("id"),
        F.col("fingerprint").alias("old_fingerprint"),
        F.lit(True).alias("__in_old"),
    )
    n = doc_fingerprint(new_df, id_col, text_col).select(
        F.col(id_col).alias("id"),
        F.col("fingerprint").alias("new_fingerprint"),
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(
            # null-safe: both-NULL fingerprints (two NULL texts) are
            # equal, i.e. unchanged
            ~F.col("old_fingerprint").eqNullSafe(
                F.col("new_fingerprint")
            ),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        "id", status.alias("status"), "old_fingerprint", "new_fingerprint"
    )
