"""DuckDB oracle SQL for the beyond-reference operators.

Each generator mirrors the corresponding Spark operator expression-
for-expression (same hash fold, same double casts, same fold order,
same rounding), so the driver's side-by-side hash comparison passes
bit-for-bit. Shared constants (minhash params, hyperplanes, stopword
lists) come from the same Python functions the Spark operators use.
"""

from __future__ import annotations

from ..functions.text import BPE_REGEX, PII_PATTERNS, STOPWORDS
from ..operators.dedup import MERSENNE31, minhash_params
from ..operators.similarity import hyperplanes

__all__ = [
    "poly_hash_sql",
    "ws_tokens_sql",
    "minhash_neardup_sql",
    "minhash_match_sql",
    "qgram_tokens_sql",
    "ngram_jaccard_neardup_sql",
    "containment_sql",
    "containment_match_sql",
    "ngram_shingles_sql",
    "ngram_decontaminate_sql",
    "connected_components_sql",
    "simhash_fingerprints_sql",
    "simhash_neardup_sql",
    "cosine_sql",
    "cosine_neardup_sql",
    "cosine_neardup_lsh_sql",
    "cosine_neardup_lsh_banded_sql",
    "embedding_lsh_match_sql",
    "cosine_topk_sql",
    "ivf_topk_sql",
    "lsh_banded_topk_sql",
    "lsh_bucket_lit_sql",
    "lsh_topk_sql",
    "text_stats_sql",
    "lang_id_trigram_sql",
    "hash_split_sql",
    "mix_corpora_sql",
    "packing_stats_sql",
    "pack_sequences_sql",
    "stratified_sample_sql",
    "deterministic_shuffle_sql",
    "remove_boilerplate_sql",
    "url_domain_stats_sql",
    "lang_id_sql",
    "redact_pii_sql",
    "repetition_stats_sql",
    "token_counts_sql",
    "multimodal_decode_sql",
    "multimodal_audio_sql",
    "multimodal_features_sql",
    "bm25_top_terms_sql",
    "corpus_profile_sql",
    "normalize_text_sql",
    "dedup_lines_in_doc_sql",
    "chunk_documents_sql",
    "domain_cooccurrence_edges_sql",
    "pagerank_sql",
    "domain_pagerank_sql",
    "c4_rules_sql",
    "split_sentences_sql",
    "build_vocab_sql",
    "corpus_diff_sql",
    "resample_events_sql",
    "weighted_jaccard_neardup_sql",
]

_WS_CLASS = "[ \t\r\n]"


def ws_tokens_sql(table: str, key: str, val: str) -> str:
    """Distinct lowercased whitespace token sets (dedup semantics:
    mirrors dedup._token_sets with WhitespaceTokzr)."""
    return (
        f"select distinct {key} as id, lower(tk) as token from ("
        f"select {key}, unnest(list_filter(str_split_regex({val}, '{_WS_CLASS}'),"
        f" x -> trim(x) != '')) as tk from {table})"
    )


def poly_hash_sql(col: str, mult: int = 31) -> str:
    """31-bit polynomial fold — mirrors functions.text.poly_hash."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(1, len({col})), i -> "
        f"CAST(ascii(substring({col}, i, 1)) AS BIGINT))), "
        f"(a, c) -> (a * {int(mult)} + c) % 2147483647)"
    )


def minhash_neardup_sql(
    table: str, key: str, val: str, threshold: float,
    num_hashes: int = 32, bands: int = 8, seed: int = 42,
) -> str:
    rows_per_band = num_hashes // bands
    params_rows = ", ".join(
        f"({i}, CAST({a} AS BIGINT), CAST({b} AS BIGINT))"
        for i, a, b in minhash_params(num_hashes, seed)
    )
    return f"""
with toks as ({ws_tokens_sql(table, key, val)}),
th as (select id, token, {poly_hash_sql('token')} as h from toks),
params(i, a, b) as (values {params_rows}),
sig as (
  select id, i, min((a * h + b) % {MERSENNE31}) as minh
  from th, params group by id, i),
band_sig as (
  select id, i // {rows_per_band} as band,
         string_agg(CAST(minh AS VARCHAR), ',' order by i) as sig
  from sig group by id, i // {rows_per_band}),
cands as (
  select distinct L.id as lid, R.id as rid
  from band_sig L join band_sig R
    on L.band = R.band and L.sig = R.sig and L.id < R.id),
sizes as (select id, count(*) as sz from toks group by id),
ov as (
  select c.lid, c.rid, count(*) as ov
  from cands c
  join toks tl on tl.id = c.lid
  join toks tr on tr.id = c.rid and tl.token = tr.token
  group by c.lid, c.rid)
select ov.lid as l_id, ov.rid as r_id,
       round(CAST(ov AS DOUBLE) / CAST(sl.sz + sr.sz - ov AS DOUBLE), 6) as jaccard
from ov join sizes sl on sl.id = ov.lid join sizes sr on sr.id = ov.rid
where round(CAST(ov AS DOUBLE) / CAST(sl.sz + sr.sz - ov AS DOUBLE), 6)
      >= CAST({float(threshold)!r} AS DOUBLE)
"""


def minhash_match_sql(
    q_table: str, c_table: str, key: str, val: str, threshold: float,
    num_hashes: int = 32, bands: int = 8, seed: int = 42,
) -> str:
    """Mirror of dedup.minhash_match: LSH-bucket candidates between a
    query set and a corpus (both may be subquery expressions), exact
    Jaccard verification. Output (q_id, c_id, jaccard)."""
    rows_per_band = num_hashes // bands
    params_rows = ", ".join(
        f"({i}, CAST({a} AS BIGINT), CAST({b} AS BIGINT))"
        for i, a, b in minhash_params(num_hashes, seed)
    )
    return f"""
with q_toks as ({ws_tokens_sql(q_table, key, val)}),
c_toks as ({ws_tokens_sql(c_table, key, val)}),
params(i, a, b) as (values {params_rows}),
q_th as (select id, {poly_hash_sql('token')} as h from q_toks),
c_th as (select id, {poly_hash_sql('token')} as h from c_toks),
q_band as (
  select id, i // {rows_per_band} as band,
         string_agg(CAST(minh AS VARCHAR), ',' order by i) as sig
  from (select id, i, min((a * h + b) % {MERSENNE31}) as minh
        from q_th, params group by id, i)
  group by id, i // {rows_per_band}),
c_band as (
  select id, i // {rows_per_band} as band,
         string_agg(CAST(minh AS VARCHAR), ',' order by i) as sig
  from (select id, i, min((a * h + b) % {MERSENNE31}) as minh
        from c_th, params group by id, i)
  group by id, i // {rows_per_band}),
cands as (
  select distinct Q.id as qid, C.id as cid
  from q_band Q join c_band C on Q.band = C.band and Q.sig = C.sig),
q_sizes as (select id, count(*) as sz from q_toks group by id),
c_sizes as (select id, count(*) as sz from c_toks group by id),
ov as (
  select c.qid, c.cid, count(*) as ov
  from cands c
  join q_toks tq on tq.id = c.qid
  join c_toks tc on tc.id = c.cid and tq.token = tc.token
  group by c.qid, c.cid)
select ov.qid as q_id, ov.cid as c_id,
       round(CAST(ov AS DOUBLE) / CAST(sq.sz + sc.sz - ov AS DOUBLE), 6) as jaccard
from ov join q_sizes sq on sq.id = ov.qid join c_sizes sc on sc.id = ov.cid
where round(CAST(ov AS DOUBLE) / CAST(sq.sz + sc.sz - ov AS DOUBLE), 6)
      >= CAST({float(threshold)!r} AS DOUBLE)
"""


def qgram_tokens_sql(table: str, key: str, val: str, q: int) -> str:
    """Distinct lowercased padded q-gram sets — mirrors
    dedup._token_sets with QGramsTokzr(q)."""
    return (
        f"select distinct {key} as id, lower(tk) as token from ("
        f"select {key}, unnest(list_distinct(list_transform("
        f"generate_series(1, len({val}) + {q} - 1), x -> "
        f"substring(concat(repeat('#', {q} - 1), lower({val}), "
        f"repeat('#', {q} - 1)), x, {q})))) as tk from {table})"
    )


def ngram_jaccard_neardup_sql(
    table: str, key: str, val: str, threshold: float, q: int = 5
) -> str:
    """Mirror of dedup.ngram_jaccard_near_duplicates: all token-sharing
    pairs, exact Jaccard rounded to 6, threshold filter."""
    return f"""
with toks as ({qgram_tokens_sql(table, key, val, q)}),
cands as (
  select distinct L.id as lid, R.id as rid
  from toks L join toks R on L.token = R.token and L.id < R.id),
sizes as (select id, count(*) as sz from toks group by id),
ov as (
  select c.lid, c.rid, count(*) as ov
  from cands c
  join toks tl on tl.id = c.lid
  join toks tr on tr.id = c.rid and tl.token = tr.token
  group by c.lid, c.rid)
select ov.lid as l_id, ov.rid as r_id,
       round(CAST(ov AS DOUBLE) / CAST(sl.sz + sr.sz - ov AS DOUBLE), 6) as jaccard
from ov join sizes sl on sl.id = ov.lid join sizes sr on sr.id = ov.rid
where round(CAST(ov AS DOUBLE) / CAST(sl.sz + sr.sz - ov AS DOUBLE), 6)
      >= CAST({float(threshold)!r} AS DOUBLE)
"""


def ngram_shingles_sql(table: str, key: str, val: str, n: int) -> str:
    """Distinct ordered word-level n-gram strings — mirrors the
    shingle builder in dedup.ngram_decontaminate (same whitespace
    class + drop-blank filter as ws_tokens_sql, but ORDER PRESERVED;
    the Spark side compares xxhash64(gram) keys, which is
    count-equivalent modulo the accepted 2^-64 collision floor)."""
    return (
        f"select distinct {key} as id, g from ("
        f"select {key}, unnest(list_transform("
        f"generate_series(1, len(ts) - {int(n)} + 1), "
        f"x -> array_to_string(list_slice(ts, x, x + {int(n)} - 1), ' '))) as g "
        f"from (select {key}, list_filter(str_split_regex(lower({val}), "
        f"'{_WS_CLASS}'), t -> trim(t) != '') as ts from {table}))"
    )


def ngram_decontaminate_sql(
    q_table: str, c_table: str, key: str, val: str, n: int, min_hits: int = 1
) -> str:
    """Mirror of dedup.ngram_decontaminate: distinct shared word-level
    n-grams per (benchmark item, training doc), with the benchmark
    item's distinct n-gram count and hit fraction."""
    return f"""
with q_grams as ({ngram_shingles_sql(q_table, key, val, n)}),
c_grams as ({ngram_shingles_sql(c_table, key, val, n)}),
q_sizes as (select id, count(*) as q_ngrams from q_grams group by id),
hits as (select q.id as qid, c.id as cid, count(*) as n_hits
         from q_grams q join c_grams c on q.g = c.g group by 1, 2)
select h.qid as q_id, h.cid as c_id, CAST(h.n_hits AS BIGINT) as n_hits,
       CAST(s.q_ngrams AS BIGINT) as q_ngrams,
       round(CAST(h.n_hits AS DOUBLE) / CAST(s.q_ngrams AS DOUBLE), 6)
         as hit_frac
from hits h join q_sizes s on s.id = h.qid
where h.n_hits >= {int(min_hits)}
"""


def containment_sql(table: str, key: str, val: str, threshold: float) -> str:
    """Mirror of dedup.containment_join: all ordered token-sharing
    pairs (the prefix filter is lossless, so the brute candidate set
    yields identical output), exact overlap, containment = ov / |L|
    rounded to 6, threshold filter."""
    return f"""
with toks as ({ws_tokens_sql(table, key, val)}),
sizes as (select id, count(*) as sz from toks group by id),
cands as (
  select distinct L.id as lid, R.id as rid
  from toks L join toks R on L.token = R.token and L.id != R.id),
ov as (
  select c.lid, c.rid, count(*) as ov
  from cands c
  join toks tl on tl.id = c.lid
  join toks tr on tr.id = c.rid and tl.token = tr.token
  group by c.lid, c.rid)
select ov.lid as l_id, ov.rid as r_id,
       round(CAST(ov AS DOUBLE) / CAST(sl.sz AS DOUBLE), 6) as containment
from ov join sizes sl on sl.id = ov.lid
where round(CAST(ov AS DOUBLE) / CAST(sl.sz AS DOUBLE), 6)
      >= CAST({float(threshold)!r} AS DOUBLE)
"""


def containment_match_sql(
    q_table: str, c_table: str, key: str, val: str, threshold: float
) -> str:
    """Mirror of dedup.containment_match (decontamination shape):
    brute token-sharing query×corpus pairs (the prefix filter is
    lossless), exact overlap, containment = ov / |Q| rounded to 6."""
    return f"""
with q_toks as ({ws_tokens_sql(q_table, key, val)}),
c_toks as ({ws_tokens_sql(c_table, key, val)}),
q_sizes as (select id, count(*) as sz from q_toks group by id),
cands as (
  select distinct Q.id as qid, C.id as cid
  from q_toks Q join c_toks C on Q.token = C.token),
ov as (
  select c.qid, c.cid, count(*) as ov
  from cands c
  join q_toks tq on tq.id = c.qid
  join c_toks tc on tc.id = c.cid and tq.token = tc.token
  group by c.qid, c.cid)
select ov.qid as q_id, ov.cid as c_id,
       round(CAST(ov AS DOUBLE) / CAST(sq.sz AS DOUBLE), 6) as containment
from ov join q_sizes sq on sq.id = ov.qid
where round(CAST(ov AS DOUBLE) / CAST(sq.sz AS DOUBLE), 6)
      >= CAST({float(threshold)!r} AS DOUBLE)
"""


def _simhash_fp_cte(table: str, key: str, val: str) -> str:
    """CTE chain ending in ``fp(id, simhash)`` — 62-bit fingerprint,
    token hash = poly31 + poly37 * 2^31 (mirrors
    dedup.simhash_fingerprints; see there for why two 31-bit folds
    instead of one 64-bit fold)."""
    return f"""
toks as ({ws_tokens_sql(table, key, val)}),
th as (select id, {poly_hash_sql('token')}
                  + {poly_hash_sql('token', mult=37)} * 2147483648 as h
       from toks),
votes as (
  select id, j.j as j, CAST(round(pow(2.0, j.j)) AS BIGINT) as p2,
         sum(((h // CAST(round(pow(2.0, j.j)) AS BIGINT)) % 2) * 2 - 1) as vote
  from th, generate_series(0, 61) as j(j)
  group by id, j.j),
fp as (
  select id, sum(case when vote > 0 then p2 else 0 end) as simhash
  from votes group by id)
"""


def simhash_fingerprints_sql(table: str, key: str, val: str) -> str:
    return (
        f"with {_simhash_fp_cte(table, key, val)} "
        "select id, CAST(simhash AS BIGINT) as simhash from fp"
    )


def simhash_neardup_sql(table: str, key: str, val: str, max_hamming: int = 3) -> str:
    return f"""
with {_simhash_fp_cte(table, key, val)},
blocked as (
  select id, simhash, c.c as c,
         (simhash // CAST(round(pow(2.0, c.c * 16)) AS BIGINT)) % 65536 as chunk
  from fp, generate_series(0, 3) as c(c)),
pairs as (
  select distinct L.id as l_id, R.id as r_id,
         CAST(bit_count(xor(CAST(L.simhash AS BIGINT), CAST(R.simhash AS BIGINT)))
              AS INTEGER) as hamming
  from blocked L join blocked R
    on L.c = R.c and L.chunk = R.chunk and L.id < R.id)
select l_id, r_id, hamming from pairs where hamming <= {int(max_hamming)}
"""


def _dot_sql(a: str, b: str) -> str:
    """Left-to-right double dot product — mirrors similarity._dot."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), i -> "
        f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), i -> "
        f"CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))), (x, y) -> x + y))"
    )


def cosine_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)}))"


def cosine_topk_sql(
    table: str, id_col: str, vec_col: str, query_pred: str, k: int
) -> str:
    """Brute-force top-k mirror of similarity.cosine_topk_bruteforce:
    rank over (rounded cosine desc, neighbor id asc)."""
    return f"""
with q as (select {id_col} as query_id, {vec_col} as qv from {table} where {query_pred}),
c as (select {id_col} as neighbor_id, {vec_col} as cv from {table}),
scored as (
  select query_id, neighbor_id, round({cosine_sql('qv', 'cv')}, 6) as cosine
  from c, q where query_id != neighbor_id),
ranked as (
  select query_id, neighbor_id, cosine,
         row_number() over (partition by query_id
                            order by cosine desc, neighbor_id asc) as rank
  from scored)
select query_id, neighbor_id, cosine, CAST(rank AS INTEGER) as rank
from ranked where rank <= {int(k)}
"""


def cosine_neardup_sql(
    table: str, id_col: str, vec_col: str, threshold: float
) -> str:
    """All-pairs embedding near-dup mirror of
    similarity.cosine_near_duplicates (no blocking): ``L.id < R.id``
    pairs with round(cosine, 6) >= threshold."""
    return f"""
select L.{id_col} as l_id, R.{id_col} as r_id,
       round({cosine_sql(f'L.{vec_col}', f'R.{vec_col}')}, 6) as cosine
from {table} L join {table} R on L.{id_col} < R.{id_col}
where round({cosine_sql(f'L.{vec_col}', f'R.{vec_col}')}, 6)
      >= CAST({float(threshold)!r} AS DOUBLE)
"""


def ivf_topk_sql(
    table: str, id_col: str, vec_col: str, query_pred: str, k: int,
    n_lists: int = 16, n_probe: int = 4,
) -> str:
    """Mirror of similarity.ivf_topk with ``centroids="min_ids"``:
    centroids are the ``n_lists`` smallest-id vectors (index = rank
    in id order, 0-based); every corpus row lands in its top-1 list,
    queries probe their ``n_probe`` closest lists. Centroid-distance
    ordering ties break on *descending* centroid index — the exact
    order Spark's reverse(array_sort(struct(s, c))) yields. The raw
    (unrounded) cosine drives list assignment, matching the Spark
    expression bit-for-bit (same folds, same sqrt)."""
    cos_raw = cosine_sql("v", "cv")
    return f"""
with cents as (
  select CAST(row_number() over (order by {id_col} asc) - 1 AS BIGINT) as c,
         {vec_col} as cv
  from (select {id_col}, {vec_col} from {table}
        order by {id_col} asc limit {int(n_lists)})),
corpus as (select {id_col} as neighbor_id, {vec_col} as v from {table}),
qs as (select {id_col} as query_id, {vec_col} as v from {table} where {query_pred}),
c_ranked as (
  select neighbor_id, v, c,
         row_number() over (partition by neighbor_id
                            order by {cos_raw} desc, c desc) as rn
  from corpus, cents),
c_assign as (select neighbor_id, v as cv2, c as lst from c_ranked where rn = 1),
q_ranked as (
  select query_id, v, c,
         row_number() over (partition by query_id
                            order by {cos_raw} desc, c desc) as rn
  from qs, cents),
q_probe as (select query_id, v as qv, c as lst from q_ranked
            where rn <= {int(n_probe)}),
scored as (
  select query_id, neighbor_id,
         round({cosine_sql('qv', 'cv2')}, 6) as cosine
  from q_probe join c_assign using (lst)
  where query_id != neighbor_id),
ranked as (
  select query_id, neighbor_id, cosine,
         row_number() over (partition by query_id
                            order by cosine desc, neighbor_id asc) as rank
  from scored)
select query_id, neighbor_id, cosine, CAST(rank AS INTEGER) as rank
from ranked where rank <= {int(k)}
"""


def _dot_lit_sql(vec: str, values: list[float]) -> str:
    """Dot product of a vector column against a literal plane —
    mirrors similarity._dot with the plane as F.lit doubles."""
    lit = "[" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in values) + "]"
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({vec})), i -> "
        f"CAST({vec}[i] AS DOUBLE) * ({lit})[i])), (x, y) -> x + y)"
    )


def lsh_bucket_lit_sql(vec: str, planes: list[list[float]]) -> str:
    """Mirror of similarity.lsh_bucket_expr: sign bit per hyperplane
    packed into a BIGINT."""
    terms = " + ".join(
        f"(case when {_dot_lit_sql(vec, p)} > 0 then CAST({2 ** j} AS BIGINT) "
        "else CAST(0 AS BIGINT) end)"
        for j, p in enumerate(planes)
    )
    return f"(CAST(0 AS BIGINT) + {terms})"


def cosine_neardup_lsh_sql(
    table: str, id_col: str, vec_col: str, threshold: float,
    n_planes: int = 4, dim: int = 64, seed: int = 42,
) -> str:
    """Mirror of similarity.cosine_near_duplicates with
    ``block_expr = lsh_bucket_expr(...)``: candidate pairs restricted
    to equal sign-LSH buckets (same shared hyperplanes), cosine from
    per-row precomputed norms — the scale path, no all-pairs join."""
    planes = hyperplanes(dim, n_planes, seed)
    blk = lsh_bucket_lit_sql(vec_col, planes)
    return f"""
with b as (
  select {id_col} as id, {vec_col} as v, {_norm_sql(vec_col)} as nrm,
         {blk} as blk
  from {table})
select L.id as l_id, R.id as r_id,
       round({_dot_sql('L.v', 'R.v')} / (L.nrm * R.nrm), 6) as cosine
from b L join b R on L.blk = R.blk and L.id < R.id
where round({_dot_sql('L.v', 'R.v')} / (L.nrm * R.nrm), 6)
      >= CAST({float(threshold)!r} AS DOUBLE)
"""


def cosine_neardup_lsh_banded_sql(
    table: str, id_col: str, vec_col: str, threshold: float,
    n_bands: int = 4, n_planes: int = 4, dim: int = 64, seed: int = 42,
) -> str:
    """Mirror of similarity.cosine_near_duplicates_lsh_banded: the
    same sequential hyperplane stream chunked per band, UNION ALL of
    per-band (id, band, blk) signatures, distinct colliding pairs in
    ANY band, then cosine from per-row norms on the survivors."""
    planes = hyperplanes(dim, int(n_bands) * int(n_planes), seed)
    sigs = "\n  union all\n".join(
        f"  select id, {b} as band, "
        f"{lsh_bucket_lit_sql('v', planes[b * int(n_planes):(b + 1) * int(n_planes)])}"
        " as blk from base"
        for b in range(int(n_bands))
    )
    cos = f"round({_dot_sql('lb.v', 'rb.v')} / (lb.nrm * rb.nrm), 6)"
    return f"""
with base as (
  select {id_col} as id, {vec_col} as v, {_norm_sql(vec_col)} as nrm
  from {table}),
sig as (
{sigs}),
cand as (
  select distinct L.id as lid, R.id as rid
  from sig L join sig R on L.band = R.band and L.blk = R.blk and L.id < R.id)
select c.lid as l_id, c.rid as r_id, {cos} as cosine
from cand c join base lb on c.lid = lb.id join base rb on c.rid = rb.id
where {cos} >= CAST({float(threshold)!r} AS DOUBLE)
"""


def embedding_lsh_match_sql(
    table: str, id_col: str, vec_col: str,
    query_pred: str, corpus_pred: str, threshold: float,
    n_bands: int = 4, n_planes: int = 4, dim: int = 64, seed: int = 42,
) -> str:
    """Mirror of similarity.embedding_lsh_match over an
    embedding_lsh_index built on the ``corpus_pred`` rows, queried
    with the ``query_pred`` rows: per-band signatures on both sides,
    candidates on a collision in ANY band, exact cosine on the
    survivors."""
    planes = hyperplanes(dim, int(n_bands) * int(n_planes), seed)

    def sigs(src: str) -> str:
        return "\n  union all\n".join(
            f"  select id, {b} as band, "
            f"{lsh_bucket_lit_sql('v', planes[b * int(n_planes):(b + 1) * int(n_planes)])}"
            f" as blk from {src}"
            for b in range(int(n_bands))
        )

    cos = f"round({_dot_sql('qb.v', 'cb.v')} / (qb.nrm * cb.nrm), 6)"
    return f"""
with qbase as (
  select {id_col} as id, {vec_col} as v, {_norm_sql(vec_col)} as nrm
  from {table} where {query_pred}),
cbase as (
  select {id_col} as id, {vec_col} as v, {_norm_sql(vec_col)} as nrm
  from {table} where {corpus_pred}),
qsig as (
{sigs('qbase')}),
csig as (
{sigs('cbase')}),
cand as (
  select distinct Q.id as qid, C.id as cid
  from qsig Q join csig C on Q.band = C.band and Q.blk = C.blk)
select c.qid as q_id, c.cid as c_id, {cos} as cosine
from cand c join qbase qb on c.qid = qb.id join cbase cb on c.cid = cb.id
where {cos} >= CAST({float(threshold)!r} AS DOUBLE)
"""


def lsh_topk_sql(
    table: str, id_col: str, vec_col: str, query_pred: str, k: int,
    n_planes: int = 4, dim: int = 64, seed: int = 42,
) -> str:
    """Bucketed approximate top-k — mirror of similarity.lsh_bucket_topk
    (same hyperplanes via the shared generator, same rank ordering)."""
    planes = hyperplanes(dim, n_planes, seed)
    blk = lsh_bucket_lit_sql("cv", planes)
    qblk = lsh_bucket_lit_sql("qv", planes)
    return f"""
with q as (select {id_col} as query_id, {vec_col} as qv,
                  {qblk} as blk
           from {table} where {query_pred}),
c as (select {id_col} as neighbor_id, {vec_col} as cv,
             {blk} as blk
      from {table}),
scored as (
  select query_id, neighbor_id, round({cosine_sql('qv', 'cv')}, 6) as cosine
  from c join q using (blk) where query_id != neighbor_id),
ranked as (
  select query_id, neighbor_id, cosine,
         row_number() over (partition by query_id
                            order by cosine desc, neighbor_id asc) as rank
  from scored)
select query_id, neighbor_id, cosine, CAST(rank AS INTEGER) as rank
from ranked where rank <= {int(k)}
"""


def lsh_banded_topk_sql(
    table: str, id_col: str, vec_col: str, query_pred: str, k: int,
    n_bands: int = 8, n_planes: int = 4, dim: int = 64, seed: int = 42,
) -> str:
    """Mirror of similarity.lsh_banded_topk: the same sequential
    hyperplane stream chunked per band, UNION ALL per-band signatures
    on both sides, distinct candidates on a collision in ANY band,
    exact cosine from per-row norms, same rank ordering."""
    planes = hyperplanes(dim, int(n_bands) * int(n_planes), seed)

    def sigs(src: str) -> str:
        return "\n  union all\n".join(
            f"  select id, {b} as band, "
            f"{lsh_bucket_lit_sql('v', planes[b * int(n_planes):(b + 1) * int(n_planes)])}"
            f" as blk from {src}"
            for b in range(int(n_bands))
        )

    cos = f"round({_dot_sql('qb.v', 'cb.v')} / (qb.nrm * cb.nrm), 6)"
    return f"""
with qbase as (
  select {id_col} as id, {vec_col} as v, {_norm_sql(vec_col)} as nrm
  from {table} where {query_pred}),
cbase as (
  select {id_col} as id, {vec_col} as v, {_norm_sql(vec_col)} as nrm
  from {table}),
qsig as (
{sigs('qbase')}),
csig as (
{sigs('cbase')}),
cand as (
  select distinct Q.id as query_id, C.id as neighbor_id
  from qsig Q join csig C on Q.band = C.band and Q.blk = C.blk
  where Q.id != C.id),
scored as (
  select query_id, neighbor_id, {cos} as cosine
  from cand c join qbase qb on c.query_id = qb.id
  join cbase cb on c.neighbor_id = cb.id),
ranked as (
  select query_id, neighbor_id, cosine,
         row_number() over (partition by query_id
                            order by cosine desc, neighbor_id asc) as rank
  from scored)
select query_id, neighbor_id, cosine, CAST(rank AS INTEGER) as rank
from ranked where rank <= {int(k)}
"""


def _ws_bag_sql(val: str) -> str:
    """Lowercased whitespace token bag list (functions.text.ws_token_array)."""
    return (
        f"list_filter(str_split_regex(lower({val}), '{_WS_CLASS}'), "
        "x -> trim(x) != '')"
    )


def token_counts_sql(table: str, key: str, val: str) -> str:
    return f"""
select {key} as id,
       CAST(len({_ws_bag_sql(val)}) AS INTEGER) as ws_tokens,
       CAST(len(regexp_extract_all({val}, '{BPE_REGEX}')) AS INTEGER) as bpe_tokens,
       CAST(len({val}) AS INTEGER) as n_chars
from {table}
"""


def _stop_in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _ratio_sql(strip_class: str) -> str:
    """Mirror of functions.text._class_ratio over column ``t``."""
    return (
        f"round(CAST(len(regexp_replace(t, '{strip_class}', '', 'g')) AS DOUBLE)"
        " / CAST(len(t) AS DOUBLE), 6)"
    )


def text_stats_sql(table: str, key: str, val: str) -> str:
    stop_all = sorted({w for ws in STOPWORDS.values() for w in ws})
    punct_class = "[^.,;:!?''\"()\\[\\]{}-]"
    return f"""
with base as (
  select {key} as id, {val} as t, {_ws_bag_sql(val)} as toks from {table}),
stats as (
  select id,
    CAST(len(t) AS INTEGER) as n_chars,
    CAST(len(toks) AS INTEGER) as n_tokens,
    {_ratio_sql('[^0-9]')} as digit_ratio,
    {_ratio_sql(punct_class)} as punct_ratio,
    {_ratio_sql('[^A-Z]')} as upper_ratio,
    round(CAST(len(t) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) as chars_per_token,
    round(CAST(len(list_filter(toks, x -> x in ({_stop_in_list(stop_all)}))) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE), 6) as stopword_ratio
  from base)
select id, n_chars, n_tokens, digit_ratio, punct_ratio, upper_ratio,
       chars_per_token, stopword_ratio,
       round((1.0 - least(CAST(1.0 AS DOUBLE), digit_ratio * 4))
             * (1.0 - least(CAST(1.0 AS DOUBLE), punct_ratio * 4))
             * least(CAST(1.0 AS DOUBLE), stopword_ratio * 5 + 0.2), 6) as quality
from stats
"""


def lang_id_sql(table: str, key: str, val: str) -> str:
    hits = {
        lang: f"CAST(len(list_filter(toks, x -> x in ({_stop_in_list(w)}))) AS INTEGER)"
        for lang, w in STOPWORDS.items()
    }
    return f"""
with base as (select {key} as id, {_ws_bag_sql(val)} as toks from {table}),
h as (
  select id, {hits['de']} as hits_de, {hits['en']} as hits_en,
         {hits['es']} as hits_es, {hits['fr']} as hits_fr
  from base)
select id, hits_de, hits_en, hits_es, hits_fr,
  case when hits_de >= hits_en and hits_de >= hits_es and hits_de >= hits_fr then 'de'
       when hits_en >= hits_es and hits_en >= hits_fr then 'en'
       when hits_es >= hits_fr then 'es'
       else 'fr' end as pred_lang
from h
"""


def lang_id_trigram_sql(table: str, key: str, val: str) -> str:
    """Mirror of functions.langid.lang_id_trigram: same normalized
    trigram explode, same integer dot/norm aggregates, same
    dot / (sqrt(nsq) * sqrt(profile_norm)) double shape, same round-6
    and >=-chain argmax, same all-zero fallback for short docs. The
    profile VALUES rows come from the SAME LANG_PROFILES dict the
    Spark operator broadcasts."""
    from ..functions.langid import LANG_PROFILES, PROFILE_NORMS

    langs = sorted(LANG_PROFILES)
    prof_rows = ", ".join(
        "('{}', '{}', {})".format(lang, tg.replace("'", "''"), w)
        for lang in langs
        for tg, w in sorted(LANG_PROFILES[lang].items())
    )
    cos_cols = ",\n  ".join(
        f"round(coalesce(max(case when lang = '{lang}' then "
        f"CAST(dot AS DOUBLE) / (sqrt(CAST(nsq AS DOUBLE)) * "
        f"sqrt(CAST({PROFILE_NORMS[lang]} AS DOUBLE))) end), "
        f"CAST(0.0 AS DOUBLE)), 6) as cos_{lang}"
        for lang in langs
    )
    zero_cos = ", ".join(
        f"coalesce(cos_{lang}, CAST(0.0 AS DOUBLE)) as cos_{lang}"
        for lang in langs
    )
    cos_list = ", ".join(f"cos_{lang}" for lang in langs)
    # same >=-chain the Spark side generates: lang_i wins iff its
    # cosine >= every later language's (alphabetical tie preference)
    pred_chain = "\n       ".join(
        "when "
        + " and ".join(
            f"cos_{lang} >= cos_{other}" for other in langs[i + 1:]
        )
        + f" then '{lang}'"
        for i, lang in enumerate(langs[:-1])
    )
    return f"""
with base as (
  select {key} as id,
         trim(regexp_replace(lower({val}), '\\s+', ' ', 'g')) as norm
  from {table}),
grams as (
  select id, unnest(case when len(norm) >= 3
      then list_transform(generate_series(1, len(norm) - 2),
                          i -> substring(norm, i, 3))
      else [] end) as tg
  from base),
counts as (select id, tg, count(*) as cnt from grams group by id, tg),
norms as (select id, sum(cnt * cnt) as nsq from counts group by id),
prof as (select * from (values {prof_rows}) v(lang, tg, w)),
dots as (
  select counts.id, lang, sum(cnt * w) as dot
  from counts join prof on counts.tg = prof.tg
  group by counts.id, lang),
agg as (
  select norms.id,
  {cos_cols}
  from norms left join dots on norms.id = dots.id
  group by norms.id),
flat as (
  select base.id, {zero_cos}
  from base left join agg on base.id = agg.id)
select id, {cos_list},
  case {pred_chain}
       else '{langs[-1]}' end as pred_lang
from flat
"""


def redact_pii_sql(table: str, key: str, val: str) -> str:
    """Mirror of functions.text.redact_pii: the SAME pattern strings
    (shared PII_PATTERNS constant — Java-regex and RE2 compatible),
    progressive count-then-replace stages in the same order."""
    stages = []
    prev = "s0"
    carried: list[str] = []
    for i, (name, pat, repl) in enumerate(PII_PATTERNS, start=1):
        cols = ", ".join(["id"] + carried)
        stages.append(
            f"s{i} as (select {cols}, "
            f"CAST(len(regexp_extract_all(t, '{pat}')) AS INTEGER) as n_{name}s, "
            f"regexp_replace(t, '{pat}', '{repl}', 'g') as t from {prev})"
        )
        carried.append(f"n_{name}s")
        prev = f"s{i}"
    out_counts = ", ".join(carried)
    stages_sql = ",\n".join(stages)
    return f"""
with s0 as (select {key} as id, {val} as t from {table}),
{stages_sql}
select id, t as clean_text, {out_counts} from {prev}
"""


def repetition_stats_sql(table: str, key: str, val: str) -> str:
    """Mirror of functions.text.repetition_stats: unnest → per-(id,
    token) counts → per-id roll-up; adjacent bigrams via
    list_transform; identical double arithmetic and 0.0 defaults."""
    return f"""
with base as (select {key} as id, {_ws_bag_sql(val)} as toks from {table}),
tokc as (
  select id, t, count(*) as c
  from (select id, unnest(toks) as t from base) group by id, t),
ta as (select id, sum(c) as n, count(*) as uniq, max(c) as top
       from tokc group by id),
bgc as (
  select id, b, count(*) as c
  from (select id, unnest(list_transform(
          generate_series(1, len(toks) - 1),
          i -> toks[i] || ' ' || toks[i + 1])) as b
        from base where len(toks) >= 2)
  group by id, b),
ba as (select id, sum(c) as nb,
              sum(case when c > 1 then c else 0 end) as dupb
       from bgc group by id)
select base.id,
  CAST(coalesce(n, 0) AS INTEGER) as n_tokens,
  case when n > 0
       then round(CAST(1.0 AS DOUBLE) - CAST(uniq AS DOUBLE) / CAST(n AS DOUBLE), 6)
       else CAST(0.0 AS DOUBLE) end as dup_token_ratio,
  case when n > 0
       then round(CAST(top AS DOUBLE) / CAST(n AS DOUBLE), 6)
       else CAST(0.0 AS DOUBLE) end as top_token_frac,
  case when nb > 0
       then round(CAST(dupb AS DOUBLE) / CAST(nb AS DOUBLE), 6)
       else CAST(0.0 AS DOUBLE) end as dup_bigram_ratio
from base
left join ta on base.id = ta.id
left join ba on base.id = ba.id
"""


def bm25_top_terms_sql(
    table: str, key: str, val: str, k: int = 3,
    k1: float = 1.2, b: float = 0.75,
) -> str:
    """Mirror of functions.text.bm25_top_terms: rational Robertson
    idf (no log — bit-deterministic IEEE arithmetic), N = all rows,
    avgdl = total tokens / N, identical operation order."""
    one_minus_b = 1.0 - float(b)
    k1_plus_1 = float(k1) + 1.0
    return f"""
with toks as (
  select {key} as id, unnest({_ws_bag_sql(val)}) as token from {table}),
tf0 as (select id, token, count(*) as tf from toks group by id, token),
tf as (
  select id, token, tf,
         sum(tf) over (partition by id) as dl,
         count(*) over (partition by token) as dfq
  from tf0),
n as (select count(*) as n from {table}),
tot as (select count(*) as tot from toks),
scored as (
  select id, token, tf,
         round(
           ((n - dfq + CAST(0.5 AS DOUBLE)) / (dfq + CAST(0.5 AS DOUBLE)))
           * (tf * CAST({k1_plus_1!r} AS DOUBLE))
           / (tf + CAST({float(k1)!r} AS DOUBLE)
              * (CAST({one_minus_b!r} AS DOUBLE)
                 + CAST({float(b)!r} AS DOUBLE) * dl
                   / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))),
           6) as score
  from tf, n, tot),
ranked as (
  select id, token, tf, score,
         row_number() over (partition by id
                            order by score desc, token asc) as rank
  from scored)
select id, token, tf, score, CAST(rank AS INTEGER) as rank
from ranked where rank <= {int(k)}
"""


def corpus_profile_sql(table: str, key: str, val: str) -> str:
    """Mirror of functions.text.corpus_profile (exact percentiles:
    DuckDB quantile_cont is bit-identical to Spark percentile)."""
    return f"""
with lens as (select len({_ws_bag_sql(val)}) as nt from {table})
select count(*) as n_docs,
       count(*) filter (nt = 0) as n_empty_docs,
       CAST(sum(nt) AS BIGINT) as total_tokens,
       round(CAST(sum(nt) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         as avg_tokens,
       quantile_cont(nt, CAST(0.5 AS DOUBLE)) as p50_tokens,
       quantile_cont(nt, CAST(0.9 AS DOUBLE)) as p90_tokens,
       quantile_cont(nt, CAST(0.99 AS DOUBLE)) as p99_tokens,
       CAST(max(nt) AS BIGINT) as max_tokens
from lens
"""


def hash_split_sql(
    table: str, key: str,
    weights: list[tuple[str, float]] | None = None,
    seed: int = 42, split_col: str = "split",
) -> str:
    """Mirror of sources.hash_split: u = uint32 of the first 8 md5
    hex chars (assembled byte-wise via :func:`_hexbyte_sql` — equal
    to Spark's conv(substring(md5, 1, 8), 16, 10)) / 2^32, then the
    identical cumulative CASE chain on double literals."""
    if weights is None:
        weights = [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    if len(weights) == 1:
        # a CASE needs >= 1 WHEN; the single-label split is a constant
        # (mirrors the Spark side's F.lit fallback)
        return (
            f"select *, '{weights[0][0]}' as {split_col} from {table}"
        )
    hx = f"md5(CAST({key} AS VARCHAR) || ':' || '{int(seed)}')"
    b = [_hexbyte_sql(hx, str(i)) for i in (1, 2, 3, 4)]
    u = (
        f"(CAST((({b[0]} * 256 + {b[1]}) * 256 + {b[2]}) * 256 + {b[3]} "
        "AS DOUBLE) / 4294967296.0)"
    )
    acc, whens = 0.0, []
    for label, w in weights[:-1]:
        acc += float(w)
        whens.append(f"when {u} < CAST({acc!r} AS DOUBLE) then '{label}'")
    chain = " ".join(whens)
    return (
        f"select *, case {chain} else '{weights[-1][0]}' end as {split_col} "
        f"from {table}"
    )


def url_domain_stats_sql(table: str, key: str, val: str) -> str:
    """Mirror of functions.text.url_domain_stats: same shared URL
    pattern, same authority regex, lowercased, per-domain counts."""
    url_pat = next(p for n, p, _ in PII_PATTERNS if n == "url")
    return f"""
with urls as (
  select {key} as id, unnest(regexp_extract_all({val}, '{url_pat}')) as url
  from {table}),
doms as (
  select id, lower(regexp_extract(url, 'https?://([^/?# \t\r\n]+)', 1))
           as domain
  from urls)
select domain, count(*) as n_urls,
       CAST(count(distinct id) AS BIGINT) as n_docs
from doms where domain != '' group by domain
"""


def remove_boilerplate_sql(
    table: str, key: str, val: str,
    max_doc_frac: float = 0.05, min_docs: int = 2,
    sep_sql: str = "chr(10)",
) -> str:
    """Mirror of functions.text.remove_boilerplate_lines: identical
    normalization, distinct-doc threshold, and ordered reassembly."""
    return f"""
with docs as (select {key} as id, coalesce({val}, '') as t from {table}),
nd as (select count(*) as n_docs from docs),
lines as (
  select id, ls.pos - 1 as pos, ls.line,
         trim(regexp_replace(lower(ls.line), '[ \t\r]+', ' ', 'g')) as nrm
  from docs,
       lateral (select unnest(string_split(t, {sep_sql})) as line,
                       unnest(generate_series(
                           1, len(string_split(t, {sep_sql})))) as pos)
       ls),
ldf as (
  select nrm, count(*) as line_docs
  from (select distinct nrm, id from lines where nrm != '') group by nrm),
flagged as (
  select nrm from ldf, nd
  where line_docs >= greatest(CAST({int(min_docs)} AS BIGINT),
        CAST(ceil(CAST(n_docs AS DOUBLE)
                  * CAST({float(max_doc_frac)!r} AS DOUBLE)) AS BIGINT))),
kept as (
  select l.id, l.pos, l.line,
         (f.nrm is not null) as dropped
  from lines l left join flagged f on l.nrm = f.nrm)
select id,
       coalesce(string_agg(case when not dropped then line end, {sep_sql}
                           order by pos), '') as clean_text,
       count(*) as n_lines,
       CAST(sum(case when dropped then 1 else 0 end) AS BIGINT) as n_dropped
from kept group by id
"""


def packing_stats_sql(
    table: str, key: str, val: str,
    context_len: int = 2048, bucket_width: int = 64,
) -> str:
    """Mirror of functions.text.packing_stats: identical truncation,
    bucket rounding, per-bucket integer packing, and double-rounded
    fill ratio."""
    c, w = int(context_len), int(bucket_width)
    return f"""
with per_doc as (
  select least(CAST(len({_ws_bag_sql(val)}) AS BIGINT), {c}) as nt
  from {table}),
b as (
  select nt,
         least(CAST(ceil(CAST(nt AS DOUBLE) / {float(w)!r}) AS BIGINT) * {w},
               CAST({c} AS BIGINT)) as bucket_len
  from per_doc where nt > 0),
agg as (
  select bucket_len, count(*) as n_docs,
         CAST(sum(nt) AS BIGINT) as sum_tokens
  from b group by bucket_len),
dps as (
  select *, CAST(floor(CAST({c} AS DOUBLE) / CAST(bucket_len AS DOUBLE))
                 AS BIGINT) as docs_per_seq
  from agg),
ns as (
  select *, CAST(ceil(CAST(n_docs AS DOUBLE) / CAST(docs_per_seq AS DOUBLE))
                 AS BIGINT) as n_sequences
  from dps)
select bucket_len, n_docs, sum_tokens, docs_per_seq, n_sequences,
       round(CAST(sum_tokens AS DOUBLE)
             / (CAST(n_sequences AS DOUBLE) * {float(c)!r}), 6) as fill_ratio
from ns
"""


def bpe_packing_stats_sql(
    table: str, key: str, val: str, fixture_path: str,
    context_len: int = 2048, bucket_width: int = 64,
) -> str:
    """Mirror of functions.bpe.bpe_packing_stats. BPE encode is an
    iterative merge loop (not one SQL statement), so the per-document
    token counts come from a pre-encoded fixture produced by the
    pure-Python reference encoder (tools/gen_bpe_fixture.py — the
    same kernel tests/test_bpe.py pins the Spark UDF against),
    joined on ``md5(text)`` (engine-identical hex in Spark, DuckDB,
    and hashlib). The packing aggregation itself is packing_stats'
    hash-gated arithmetic verbatim."""
    c, w = int(context_len), int(bucket_width)
    return f"""
with per_doc as (
  select least(CAST(f.n_bpe_tokens AS BIGINT), {c}) as nt
  from {table} t
  join read_parquet('{fixture_path}') f on md5(t.{val}) = f.text_md5),
b as (
  select nt,
         least(CAST(ceil(CAST(nt AS DOUBLE) / {float(w)!r}) AS BIGINT) * {w},
               CAST({c} AS BIGINT)) as bucket_len
  from per_doc where nt > 0),
agg as (
  select bucket_len, count(*) as n_docs,
         CAST(sum(nt) AS BIGINT) as sum_tokens
  from b group by bucket_len),
dps as (
  select *, CAST(floor(CAST({c} AS DOUBLE) / CAST(bucket_len AS DOUBLE))
                 AS BIGINT) as docs_per_seq
  from agg),
ns as (
  select *, CAST(ceil(CAST(n_docs AS DOUBLE) / CAST(docs_per_seq AS DOUBLE))
                 AS BIGINT) as n_sequences
  from dps)
select bucket_len, n_docs, sum_tokens, docs_per_seq, n_sequences,
       round(CAST(sum_tokens AS DOUBLE)
             / (CAST(n_sequences AS DOUBLE) * {float(c)!r}), 6) as fill_ratio
from ns
"""


def pack_sequences_sql(
    table: str, key: str, val: str,
    context_len: int = 2048, bucket_width: int = 64, seed: int = 42,
) -> str:
    """Mirror of functions.text.pack_sequences: identical bucketing,
    stable-u in-bucket ordering, deal-by-docs_per_seq, and dense
    cumulative sequence-id bases."""
    c, w = int(context_len), int(bucket_width)
    u = _stable_u_sql("id", str(int(seed)))
    return f"""
with per_doc as (
  select {key} as id,
         least(CAST(len({_ws_bag_sql(val)}) AS BIGINT), {c}) as nt
  from {table}),
b as (
  select id,
         least(CAST(ceil(CAST(nt AS DOUBLE) / {float(w)!r}) AS BIGINT) * {w},
               CAST({c} AS BIGINT)) as bucket_len
  from per_doc where nt > 0),
r as (
  select id, bucket_len,
         row_number() over (partition by bucket_len
                            order by {u}, id) - 1 as rk,
         CAST(floor(CAST({c} AS DOUBLE) / CAST(bucket_len AS DOUBLE))
              AS BIGINT) as dps
  from b),
ranked as (
  select id, bucket_len,
         CAST(rk % dps AS BIGINT) as slot,
         CAST(floor(CAST(rk AS DOUBLE) / CAST(dps AS DOUBLE)) AS BIGINT)
           as seq_in_bucket
  from r),
counts as (
  select bucket_len, max(seq_in_bucket) + 1 as n_seqs
  from ranked group by bucket_len),
bases as (
  select bucket_len,
         coalesce(sum(n_seqs) over (order by bucket_len
                  rows between unbounded preceding and 1 preceding), 0)
           as base
  from counts)
select ranked.id, ranked.bucket_len,
       CAST(bases.base + ranked.seq_in_bucket AS BIGINT) as seq_id,
       slot
from ranked join bases on ranked.bucket_len = bases.bucket_len
"""


def _stable_u_sql(key: str, salt: str) -> str:
    """DuckDB mirror of sources._stable_u: uint32 of the first 8 md5
    hex chars of ``key ':' salt``, divided by 2^32 (exact in
    double)."""
    hx = f"md5(CAST({key} AS VARCHAR) || ':{salt}')"
    b = [_hexbyte_sql(hx, str(i)) for i in (1, 2, 3, 4)]
    return (
        f"(CAST((({b[0]} * 256 + {b[1]}) * 256 + {b[2]}) * 256 + {b[3]} "
        "AS DOUBLE) / 4294967296.0)"
    )


def mix_corpora_sql(
    tables: list[tuple[str, float]],
    key: str,
    cols: str = "*",
    seed: int = 42,
    source_col: str = "source",
) -> str:
    """Mirror of sources.mix_corpora: per-source deterministic keep
    (u(id:seed:idx) < rate), union all with the source index."""
    parts = []
    for idx, (table, rate) in enumerate(tables):
        u = _stable_u_sql(key, f"{int(seed)}:{idx}")
        parts.append(
            f"select {cols}, CAST({idx} AS INTEGER) as {source_col} "
            f"from {table} where {u} < CAST({float(rate)!r} AS DOUBLE)"
        )
    return " union all ".join(parts)


def stratified_sample_sql(
    table: str,
    key: str,
    strata: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    seed: int = 42,
) -> str:
    """Mirror of sources.stratified_sample: per-row u salted by the
    stratum value, CASE-resolved keep rate."""
    whens = " ".join(
        f"when {strata} = '{k}' then CAST({float(v)!r} AS DOUBLE)"
        for k, v in rates.items()
    )
    rate = f"case {whens} else CAST({float(default_rate)!r} AS DOUBLE) end"
    hx = f"md5(CAST({key} AS VARCHAR) || ':{int(seed)}:' || {strata})"
    b = [_hexbyte_sql(hx, str(i)) for i in (1, 2, 3, 4)]
    u = (
        f"(CAST((({b[0]} * 256 + {b[1]}) * 256 + {b[2]}) * 256 + {b[3]} "
        "AS DOUBLE) / 4294967296.0)"
    )
    return f"select * from {table} where {u} < {rate}"


def deterministic_shuffle_sql(
    table: str, key: str, cols: str = "*", seed: int = 42,
    rank_col: str = "shuffle_rank",
) -> str:
    """Mirror of sources.deterministic_shuffle: rank over (u, id).
    The Spark side computes the identical rank two-level (bucketed —
    no single-partition exchange); the flat window here IS the
    semantic definition the bucketed form must equal. NULLS FIRST
    pins DuckDB to Spark's ASC default for NULL ids."""
    u = _stable_u_sql(key, str(int(seed)))
    return (
        f"select {cols}, CAST(row_number() over "
        f"(order by {u} nulls first, {key} nulls first) "
        f"AS INTEGER) as {rank_col} from {table}"
    )


def _hexbyte_sql(hexcol: str, pos: str) -> str:
    """Byte ``pos`` (1-based SQL expr) of an md5 hex string as
    0-255 — mirrors ``hashlib.md5(payload).digest()[pos-1]`` for the
    multimodal fake kernels (payload = utf-8 text, ASCII corpus)."""
    h1 = f"substring({hexcol}, 2 * ({pos}) - 1, 1)"
    h2 = f"substring({hexcol}, 2 * ({pos}), 1)"
    return (
        f"(16 * (strpos('0123456789abcdef', {h1}) - 1) + "
        f"(strpos('0123456789abcdef', {h2}) - 1))"
    )


def multimodal_decode_sql(table: str, key: str, val: str) -> str:
    """Mirror of sources.multimodal.decode_image_meta(fake=True) over
    make_asset_table(payload = utf-8 text): dims from the first three
    md5 digest bytes, n_bytes = payload length."""
    return f"""
with h as (select {key} as asset_id, md5({val}) as hx,
                  octet_length(encode({val})) as nb
           from {table})
select asset_id,
       CAST(16 + {_hexbyte_sql('hx', '1')} % 240 AS INTEGER) as width,
       CAST(16 + {_hexbyte_sql('hx', '2')} % 240 AS INTEGER) as height,
       CAST(1 + {_hexbyte_sql('hx', '3')} % 4 AS INTEGER) as channels,
       CAST(nb AS BIGINT) as n_bytes
from h
"""


def multimodal_audio_sql(table: str, key: str, val: str) -> str:
    """Mirror of sources.multimodal.decode_audio_meta(fake=True) over
    make_asset_table(payload = utf-8 text): every field from the same
    md5 digest bytes; duration is the RAW double quotient (identical
    to the kernel's Python division — no rounding on either side)."""
    rate = (
        f"case ({_hexbyte_sql('hx', '2')} % 4) when 0 then 8000 "
        "when 1 then 16000 when 2 then 22050 else 44100 end"
    )
    ns = f"(1000 + ({_hexbyte_sql('hx', '4')} * 256 + {_hexbyte_sql('hx', '5')}) % 100000)"
    return f"""
with h as (select {key} as asset_id, md5({val}) as hx,
                  octet_length(encode({val})) as nb
           from {table}),
p as (select asset_id, nb,
       CAST(1 + {_hexbyte_sql('hx', '1')} % 2 AS INTEGER) as channels,
       CAST({rate} AS INTEGER) as sample_rate,
       CAST(8 * (1 + {_hexbyte_sql('hx', '3')} % 2) AS INTEGER)
         as bits_per_sample,
       CAST({ns} AS BIGINT) as n_samples
      from h)
select asset_id, channels, sample_rate, bits_per_sample, n_samples,
       CAST(n_samples AS DOUBLE) / CAST(sample_rate AS DOUBLE) as duration_s,
       CAST(nb AS BIGINT) as n_bytes
from p
"""


def multimodal_features_sql(
    table: str, key: str, val: str, dim: int = 16
) -> str:
    """Mirror of sources.multimodal.extract_features(fake=True),
    unnested to scalar rows (asset_id, dim, value): value =
    (digest_byte - 128) / 128 — exact dyadic rationals, identical in
    float32 and DOUBLE."""
    return f"""
with h as (select {key} as asset_id, md5({val}) as hx from {table})
select asset_id, CAST(i.i AS INTEGER) as dim,
       CAST(({_hexbyte_sql('hx', 'i.i')} - 128) / 128.0 AS DOUBLE) as value
from h, generate_series(1, {int(dim)}) as i(i)
"""


def connected_components_sql(
    edges_sql: str, l_col: str = "l_id", r_col: str = "r_id",
    out_id: str = "id", out_comp: str = "comp",
) -> str:
    """Mirror of dedup.connected_components: min-reachable-node label
    per node of the (symmetrized) edge set. The recursive walk floods
    every node's label along edges to fixpoint (UNION is distinct, so
    the iteration terminates at the finite (node, label) state space);
    min() over received labels is then the component minimum —
    identical to the fixpoint hash-min propagation computes."""
    return f"""
with recursive edges0 as ({edges_sql}),
edges as (
  select {l_col} as u, {r_col} as v from edges0
  union
  select {r_col} as u, {l_col} as v from edges0),
walk(u, comp) as (
  select u, u from edges
  union
  select e.v, w.comp from walk w join edges e on e.u = w.u)
select u as {out_id}, min(comp) as {out_comp} from walk group by u
"""


def curate_corpus_sql(
    table: str, key: str, val: str,
    min_quality: float = 0.3, min_tokens: int = 20,
    neardup_threshold: float = 0.9,
    num_hashes: int = 32, bands: int = 8, seed: int = 42,
    allowed_langs: list[str] | None = None,
    max_dup_token_ratio: float | None = None,
    max_top_token_frac: float | None = None,
    emb_table: str | None = None,
    emb_id: str = "vec_id", emb_vec: str = "embedding",
    emb_threshold: float = 0.95,
    emb_bands: int = 4, emb_planes: int = 4,
    emb_dim: int = 64, emb_seed: int = 42,
) -> str:
    """Mirror of operators.curate.curate_corpus — the composed
    pipeline hash-checked end-to-end: quality gate (same rounded
    arithmetic as text_stats_sql), optional language gate (same
    stopword-hit CASE chain as lang_id_sql), exact dedup (min id per
    md5(text)), MinHash near-dup pairs (same params), recursive-CTE
    component labels (same fixpoint as hash-min propagation), min-id
    survivors — then, when ``emb_table`` is given, banded sign-LSH
    embedding near-dup pairs over the survivors (same hyperplane
    buckets as cosine_neardup_lsh_banded_sql) with a second
    recursive-CTE component pass.
    """
    pairs = minhash_neardup_sql(
        "kd", key, val, neardup_threshold, num_hashes, bands, seed
    )
    if allowed_langs:
        langs_in = ", ".join(f"'{x}'" for x in allowed_langs)
        keep_ctes = f"""
st as ({text_stats_sql(table, key, val)}),
lng as ({lang_id_sql(table, key, val)}),
keep as (
  select st.id, st.n_tokens, st.quality from st
  join lng on st.id = lng.id
  where st.quality >= CAST({float(min_quality)!r} AS DOUBLE)
    and st.n_tokens >= {int(min_tokens)}
    and lng.pred_lang in ({langs_in})),"""
    else:
        keep_ctes = f"""
st as ({text_stats_sql(table, key, val)}),
keep as (
  select id, n_tokens, quality from st
  where quality >= CAST({float(min_quality)!r} AS DOUBLE)
    and n_tokens >= {int(min_tokens)}),"""
    rep_conds = []
    if max_dup_token_ratio is not None:
        rep_conds.append(
            f"dup_token_ratio <= CAST({float(max_dup_token_ratio)!r} AS DOUBLE)"
        )
    if max_top_token_frac is not None:
        rep_conds.append(
            f"top_token_frac <= CAST({float(max_top_token_frac)!r} AS DOUBLE)"
        )
    if rep_conds:
        keep_ctes += f"""
rep as ({repetition_stats_sql(table, key, val)}),
krep as (select id from rep where {' and '.join(rep_conds)}),"""
        rep_join = f" join krep on d.{key} = krep.id"
    else:
        rep_join = ""
    head = f"""
with recursive
{keep_ctes}
k as (select d.* from {table} d join keep on d.{key} = keep.id{rep_join}),
ex as (select min({key}) as id from k group by md5({val})),
kd as (select k.* from k join ex on k.{key} = ex.id),
pairs as ({pairs}),
edges as (
  select l_id as u, r_id as v from pairs
  union
  select r_id as u, l_id as v from pairs),
walk(u, comp) as (
  select u, u from edges
  union
  select e.v, w.comp from walk w join edges e on e.u = w.u),
comps as (select u as id, min(comp) as comp from walk group by u),
losers as (select id from comps where id != comp)"""
    if emb_table is None:
        return f"""{head}
select kd.{key} as {key}, keep.n_tokens, keep.quality
from kd
join keep on kd.{key} = keep.id
left join losers on kd.{key} = losers.id
where losers.id is null
"""
    surv_vecs = (
        f"(select e.{emb_id} as vid, e.{emb_vec} as vv from {emb_table} e "
        "join surv on e." + emb_id + " = surv.id)"
    )
    epairs = cosine_neardup_lsh_banded_sql(
        surv_vecs, "vid", "vv", emb_threshold,
        n_bands=emb_bands, n_planes=emb_planes, dim=emb_dim, seed=emb_seed,
    )
    return f"""{head},
surv as materialized (
  select kd.{key} as id from kd
  left join losers on kd.{key} = losers.id
  where losers.id is null),
epairs as ({epairs}),
eedges as (
  select l_id as u, r_id as v from epairs
  union
  select r_id as u, l_id as v from epairs),
ewalk(u, comp) as (
  select u, u from eedges
  union
  select e2.v, w.comp from ewalk w join eedges e2 on e2.u = w.u),
ecomps as (select u as id, min(comp) as comp from ewalk group by u),
elosers as (select id from ecomps where id != comp)
select surv.id as {key}, keep.n_tokens, keep.quality
from surv
join keep on surv.id = keep.id
left join elosers on surv.id = elosers.id
where elosers.id is null
"""


def token_rarity_sql(
    table: str, key: str, val: str, rare_max: int = 2
) -> str:
    """functions.text.token_rarity_stats twin: exact integer
    collection frequencies; the only float ops are the two final
    round(int/int, 6) divisions."""
    return f"""
with toks as (
  select {key} as id, unnest({_ws_bag_sql(val)}) as token from {table}),
cf as (
  select token, count(*) as cf from toks group by token),
per as (
  select id,
         count(*) as n_tok,
         sum(cf) as sum_cf,
         min(cf) as min_cf,
         sum(case when cf <= {int(rare_max)} then 1 else 0 end) as n_rare
  from toks join cf using (token)
  group by id)
select b.id,
       CAST(coalesce(n_tok, 0) AS INTEGER) as n_tokens,
       CAST(min_cf AS INTEGER) as min_cf,
       round(CAST(sum_cf AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) as mean_cf,
       round(CAST(n_rare AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) as rare_ratio
from (select {key} as id from {table}) b
left join per on b.id = per.id
"""


def _md5_u32_sql(expr: str) -> str:
    """uint32 of the first 8 md5 hex chars of ``expr`` — mirrors the
    Spark side's conv(substring(md5(s), 1, 8), 16, 10) (the
    hash_split stable-u construction, without the /2^32)."""
    hx = f"md5({expr})"
    b = [_hexbyte_sql(hx, str(i)) for i in (1, 2, 3, 4)]
    return (
        f"CAST((({b[0]} * 256 + {b[1]}) * 256 + {b[2]}) * 256 + {b[3]} "
        "AS BIGINT)"
    )


def _winnow_sel_sql(table: str, key: str, val: str, k: int, w: int) -> str:
    """Shared winnowing CTE chain: (id, pos, fp) selected
    fingerprints — operators.dedup.winnow_fingerprints twin (word
    shingles, portable md5-uint32 hash, rightmost-min windows)."""
    kk, ww = int(k), int(w)
    win = f"list_slice(hs, i, least(i + {ww - 1}, len(hs)))"
    return f"""
base as (
  select {key} as id, {_ws_bag_sql(val)} as toks from {table}),
sh as (
  select id, list_transform(
           range(1, greatest(len(toks) - {kk - 1}, 0) + 1),
           i -> array_to_string(list_slice(toks, i, i + {kk - 1}), ' ')) as shs
  from base),
h as (
  select id, list_transform(shs, s -> {_md5_u32_sql('s')}) as hs from sh),
sel as (
  select id, list_transform(
    range(1, case when len(hs) >= {ww} then len(hs) - {ww} + 1
                  when len(hs) >= 1 then 1 else 0 end + 1),
    i -> [
      CAST(i + len({win})
             - list_position(list_reverse({win}), list_min({win}))
           AS BIGINT),
      list_min({win})
    ]) as fps
  from h),
fp as (
  -- per-window duplicates collapse here (the Spark side's
  -- array_distinct-before-explode equivalent)
  select distinct id, CAST(f[1] AS INTEGER) as pos, f[2] as fp
  from (select id, unnest(fps) as f from sel))
"""


def winnow_fingerprints_sql(
    table: str, key: str, val: str, k: int = 4, w: int = 4
) -> str:
    return (
        "with " + _winnow_sel_sql(table, key, val, k, w)
        + "select id, pos, fp from fp"
    )


def winnow_pairs_sql(
    table: str,
    key: str,
    val: str,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> str:
    return f"""
with {_winnow_sel_sql(table, key, val, k, w)},
d as (select distinct id, fp from fp),
rare as (
  select fp from d group by fp having count(*) <= {int(max_df)}),
dr as (select d.id, d.fp from d join rare using (fp))
select l.id as l_id, r.id as r_id, count(*) as n_shared
from dr l join dr r on l.fp = r.fp and l.id < r.id
group by l.id, r.id
having count(*) >= {int(min_shared)}
"""


def phrase_search_sql(table: str, key: str, val: str, phrase: str) -> str:
    """operators.search.phrase_search twin: positional postings via
    zipped unnest/generate_subscripts, k-way self-join on
    (id, pos + offset)."""
    terms = [t for t in phrase.lower().split() if t.strip()]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    joins = "".join(
        f"\njoin toks t{i} on t{i}.id = t0.id and t{i}.pos = t0.pos + {i}"
        for i in range(1, len(terms))
    )
    preds = " and ".join(
        "t{}.token = '{}'".format(i, t.replace("'", "''"))
        for i, t in enumerate(terms)
    )
    return f"""
with toks as (
  select {key} as id,
         unnest({_ws_bag_sql(val)}) as token,
         generate_subscripts({_ws_bag_sql(val)}, 1) as pos
  from {table})
select t0.id, t0.pos as start_pos
from toks t0{joins}
where {preds}
"""


def phrase_search_many_sql(
    table: str, key: str, val: str, phrases: list[tuple[str, str]]
) -> str:
    """operators.search.phrase_search_many twin: one join + one
    count-equals-k aggregation over every phrase at once."""
    if not phrases:
        raise ValueError("phrases must be non-empty")
    vals = ", ".join(
        "('" + pid.replace("'", "''") + "', '"
        + ph.replace("'", "''") + "')"
        for pid, ph in phrases
    )
    return f"""
with phr(phrase_id, phrase) as (values {vals}),
pterms as (
  select phrase_id, len(bag) as k,
         unnest(bag) as term,
         generate_subscripts(bag, 1) - 1 as off
  from (select phrase_id, {_ws_bag_sql('phrase')} as bag from phr)),
toks as (
  select {key} as id,
         unnest({_ws_bag_sql(val)}) as token,
         generate_subscripts({_ws_bag_sql(val)}, 1) as pos
  from {table})
select t.phrase_id, p.id, CAST(p.pos - t.off AS INTEGER) as start_pos
from toks p join pterms t on p.token = t.term
group by t.phrase_id, p.id, p.pos - t.off, t.k
having count(*) = t.k
"""


def ngram_counts_sql(
    table: str, key: str, val: str, n: int = 3, min_count: int = 1
) -> str:
    """functions.text.ngram_counts twin."""
    nn = int(n)
    return f"""
with base as (select {_ws_bag_sql(val)} as toks from {table}),
sh as (
  select unnest(list_transform(
    range(1, greatest(len(toks) - {nn - 1}, 0) + 1),
    i -> array_to_string(list_slice(toks, i, i + {nn - 1}), ' '))) as ngram
  from base)
select ngram, count(*) as n_count
from sh group by ngram
having count(*) >= {int(min_count)}
"""


def contamination_report_sql(
    q_table: str,
    c_table: str,
    key: str,
    val: str,
    threshold: float = 0.9,
    n: int = 8,
    min_hits: int = 1,
) -> str:
    """dedup.contamination_report twin: full outer join of the two
    detector oracles with the same verdict casing."""
    return f"""
with cset as ({containment_match_sql(q_table, c_table, key, val, threshold)}),
gset as ({ngram_decontaminate_sql(q_table, c_table, key, val, n, min_hits)})
select coalesce(c.q_id, g.q_id) as q_id,
       coalesce(c.c_id, g.c_id) as c_id,
       c.containment, g.n_hits, g.q_ngrams, g.hit_frac,
       case when c.q_id is not null and g.q_id is not null then 'both'
            when c.q_id is not null then 'set_only'
            else 'ngram_only' end as verdict
from cset c full outer join gset g
  on c.q_id = g.q_id and c.c_id = g.c_id
"""


def winnow_shared_passages_sql(
    table: str, key: str, val: str, k: int = 4, w: int = 4, max_df: int = 50
) -> str:
    """dedup.winnow_shared_passages twin."""
    return f"""
with {_winnow_sel_sql(table, key, val, k, w)},
rare as (
  select fp from (select distinct id, fp from fp) d
  group by fp having count(*) <= {int(max_df)}),
fr as (select fp.* from fp join rare using (fp))
select l.id as l_id, r.id as r_id,
       l.pos as l_pos, r.pos as r_pos, l.fp as fp
from fr l join fr r on l.fp = r.fp and l.id < r.id
"""


def embedding_stats_sql(table: str, key: str, vec: str) -> str:
    """similarity.embedding_stats twin: list_reduce mirrors the
    Spark side's left-to-right fold (same summation order => same
    double)."""
    return f"""
select {key} as id,
       CAST(case when {vec} is null then -1 else len({vec}) end AS INTEGER)
         as dim,
       CAST(len(list_filter({vec}, x -> x is null)) AS INTEGER) as n_null,
       CAST(len(list_filter({vec}, x -> isnan(x))) AS INTEGER) as n_nan,
       CAST(len(list_filter({vec}, x -> x = 0.0)) AS INTEGER) as n_zero,
       round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform({vec}, x -> CAST(x AS DOUBLE))),
               (acc, x) -> acc + x * x), 6) as sq_norm
from {table}
"""


def lm_score_sql(
    table: str, key: str, val: str, n: int = 2, k: float = 1.0,
    smoothing: str = "add_k", alpha: float = 0.4,
    score_table: str | None = None,
) -> str:
    """functions.text.lm_score twin: corpus n-gram LM, mean per-doc
    log-probability. Context counts are full (n-1)-gram corpus counts
    (all their own positions, one more per doc than the n-gram
    positions), matching the Spark side's second ngram_counts call.
    ``smoothing='add_k'`` or ``'stupid_backoff'`` (n=2, seen grams
    score c(gram)/c(ctx), unseen back off to
    alpha*(c(w)+1)/(N+V)) — same branch shapes as lm_score_apply.
    ``score_table`` scores a different (held-out) table under the
    counts trained on ``table`` (the lm_score_apply twin); default is
    self-scoring."""
    nn = int(n)
    kk = float(k)
    if smoothing == "stupid_backoff":
        logp = (
            f"case when cn.c is not null then "
            f"ln(CAST(cn.c AS DOUBLE) / CAST(cc.c AS DOUBLE)) "
            f"else ln(CAST({float(alpha)!r} AS DOUBLE) "
            f"* (CAST(coalesce(cw.c, 0) AS DOUBLE) + 1.0) "
            f"/ (CAST(vocab.total AS DOUBLE) + CAST(vocab.v AS DOUBLE))) end"
        )
        uni_join = "\n  left join cc cw on s.w = cw.g"
    else:
        logp = (
            f"ln((coalesce(cn.c, 0) + CAST({kk!r} AS DOUBLE))\n"
            f"            / (coalesce(cc.c, 0) "
            f"+ CAST({kk!r} AS DOUBLE) * vocab.v))"
        )
        uni_join = ""
    return f"""
with docs as (select {key} as doc_id, {_ws_bag_sql(val)} as toks from {table}),
sdocs as (select {key} as doc_id, {_ws_bag_sql(val)} as toks
          from {score_table or table}),
pos as (
  select doc_id, toks,
         unnest(range(1, greatest(len(toks) - {nn - 1}, 0) + 1)) as i
  from sdocs),
sh as (
  select doc_id,
         array_to_string(list_slice(toks, i, i + {nn - 1}), ' ') as gram,
         array_to_string(list_slice(toks, i, i + {nn - 2}), ' ') as ctx,
         toks[i + {nn - 1}] as w
  from pos),
posc as (
  select doc_id, toks,
         unnest(range(1, greatest(len(toks) - {nn - 1}, 0) + 1)) as i
  from docs),
cn as (
  select array_to_string(list_slice(toks, i, i + {nn - 1}), ' ') as g,
         count(*) as c
  from posc group by g),
pos1 as (
  select doc_id, toks,
         unnest(range(1, greatest(len(toks) - {nn - 2}, 0) + 1)) as i
  from docs),
cc as (
  select array_to_string(list_slice(toks, i, i + {nn - 2}), ' ') as g,
         count(*) as c
  from pos1 group by g),
vocab as (
  select count(distinct tok) as v, count(*) as total
  from (select unnest(toks) as tok from docs)),
scored as (
  select s.doc_id,
         {logp} as logp
  from sh s
  left join cn on s.gram = cn.g
  left join cc on s.ctx = cc.g{uni_join}
  cross join vocab),
agg as (
  select doc_id, count(*) as n_ngrams, round(avg(logp), 6) as lm_logp
  from scored group by doc_id)
select d.doc_id,
       CAST(coalesce(a.n_ngrams, 0) AS BIGINT) as n_ngrams,
       a.lm_logp
from sdocs d left join agg a on d.doc_id = a.doc_id
"""

def keep_cluster_representatives_sql(
    table: str, key: str, val: str, threshold: float = 0.9,
    num_hashes: int = 32, bands: int = 8, seed: int = 42,
) -> str:
    """dedup.keep_cluster_representatives twin over MinHash near-dup
    clusters: survivor = longest text per component (tie: min id),
    plus every unclustered doc. Window formulation — semantically
    identical to the Spark side's max(struct(score, -id)) aggregate
    because (n_chars desc, id asc) is a total order."""
    cc = connected_components_sql(
        minhash_neardup_sql(table, key, val, threshold, num_hashes,
                            bands, seed),
        "l_id", "r_id", "id", "comp",
    )
    return f"""
with cc as ({cc}),
j as (
  select d.{key} as doc_id, len(d.{val}) as n_chars, c.comp
  from {table} d left join cc c on d.{key} = c.id)
select doc_id, CAST(n_chars AS BIGINT) as n_chars
from (
  select doc_id, n_chars,
         row_number() over (partition by comp
                            order by n_chars desc, doc_id asc) as rn
  from j where comp is not null) ranked
where rn = 1
union all
select doc_id, CAST(n_chars AS BIGINT) as n_chars
from j where comp is null
"""


def duplicated_spans_sql(
    table: str, key: str, val: str, span_tokens: int = 20
) -> str:
    """dedup.duplicated_spans twin (ExactSubstr-style, Lee et al.
    2021): positions whose span_tokens-gram occurs >= 2 times in the
    corpus, merged into maximal spans by gaps-and-islands. Groups on
    the gram STRING where the Spark side groups on its xxhash64
    compression — identical result sets absent 64-bit collisions
    (none at gate scale; the hash never surfaces in output)."""
    ll = int(span_tokens)
    return f"""
with docs as (select {key} as doc_id, {_ws_bag_sql(val)} as toks from {table}),
pos as (
  select doc_id, toks,
         unnest(range(1, greatest(len(toks) - {ll - 1}, 0) + 1)) as i
  from docs),
g as (
  select doc_id, i,
         array_to_string(list_slice(toks, i, i + {ll - 1}), ' ') as gram
  from pos),
dup as (
  select doc_id, i
  from (select doc_id, i, count(*) over (partition by gram) as occ from g)
  where occ > 1),
isl as (
  select doc_id, i,
         i - row_number() over (partition by doc_id order by i) as grp
  from dup)
select doc_id,
       min(i) as start_pos,
       min(i) + count(*) + {ll - 2} as end_pos,
       count(*) + {ll - 1} as span_len
from isl
group by doc_id, grp
"""


def duplicated_span_stats_sql(
    table: str, key: str, val: str, span_tokens: int = 20
) -> str:
    """dedup.duplicated_span_stats twin: interval-union sweep over
    the per-doc spans (running max of end over preceding rows), then
    a left join back to every document."""
    spans = duplicated_spans_sql(table, key, val, span_tokens)
    return f"""
with spans as ({spans}),
swept as (
  select doc_id,
         greatest(CAST(0 AS BIGINT),
                  end_pos - greatest(
                    coalesce(max(end_pos) over (
                       partition by doc_id order by start_pos
                       rows between unbounded preceding and 1 preceding),
                      CAST(0 AS BIGINT)),
                    start_pos - 1)) as inc
  from spans),
agg as (select doc_id, sum(inc) as dup_tokens from swept group by doc_id),
docs as (select {key} as doc_id,
                CAST(len({_ws_bag_sql(val)}) AS BIGINT) as n_tokens
         from {table})
select d.doc_id,
       d.n_tokens,
       CAST(coalesce(a.dup_tokens, 0) AS BIGINT) as dup_tokens,
       CAST(coalesce(a.dup_tokens, 0) AS DOUBLE)
         / CAST(greatest(d.n_tokens, 1) AS DOUBLE) as dup_ratio
from docs d left join agg a on d.doc_id = a.doc_id
"""


def perplexity_buckets_sql(
    table: str, key: str, val: str, n: int = 2, k: float = 1.0
) -> str:
    """functions.text.perplexity_buckets twin (CCNet tiering): corpus
    LM scores + exact tertile cutoffs (quantile_cont matches Spark's
    exact `percentile` linear interpolation on the same rounded-6dp
    doubles) + CASE bucketing."""
    scored = lm_score_sql(table, key, val, n=n, k=k)
    return f"""
with scored as ({scored}),
cuts as (
  select quantile_cont(lm_logp, 2.0/3.0) as c_head,
         quantile_cont(lm_logp, 1.0/3.0) as c_mid
  from scored where lm_logp is not null)
select s.doc_id, s.n_ngrams, s.lm_logp,
       case when s.lm_logp is null then 'unscored'
            when s.lm_logp >= c.c_head then 'head'
            when s.lm_logp >= c.c_mid then 'middle'
            else 'tail' end as bucket
from scored s cross join cuts c
"""


def dsir_weights_sql(
    target_table: str, source_table: str, key: str, val: str,
    n: int = 2, k: float = 1.0,
) -> str:
    """functions.text.dsir_weights twin: source docs scored under the
    target-trained LM and the source-trained LM (two lm_score_sql
    CTEs with score_table), joined on doc id."""
    tgt = lm_score_sql(target_table, key, val, n=n, k=k,
                       score_table=source_table)
    src = lm_score_sql(source_table, key, val, n=n, k=k)
    return f"""
with tgt as ({tgt}),
src as ({src})
select t.doc_id,
       t.n_ngrams,
       t.lm_logp as logp_target,
       s.lm_logp as logp_source,
       round(t.lm_logp - s.lm_logp, 6) as logw
from tgt t join src s on t.doc_id = s.doc_id
"""


def gopher_rules_sql(
    table: str, key: str, val: str,
    min_words: int = 50, max_words: int = 100_000,
    min_mean_word_len: float = 3.0, max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1, max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3, min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> str:
    """functions.text.gopher_rules twin (Rae et al. 2021 App. A):
    identical expression shapes — list_sum/list_filter over the same
    whitespace token bag, chr(10) line split, round-6 double ratios."""
    stops = "['the','be','to','of','and','that','have','with']"
    return f"""
with base as (
  select {key} as doc_id, {val} as t, {_ws_bag_sql(val)} as toks,
         str_split({val}, chr(10)) as lines
  from {table}),
feat as (
  select doc_id,
         CAST(len(toks) AS BIGINT) as n_words,
         round(CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
                    AS DOUBLE)
               / CAST(greatest(len(toks), 1) AS DOUBLE), 6) as mean_word_len,
         round(CAST((len(t) - len(replace(t, '#', '')))
                    + floor((len(t) - len(replace(t, '...', ''))) / 3.0)
                    AS DOUBLE)
               / CAST(greatest(len(toks), 1) AS DOUBLE), 6) as symbol_ratio,
         round(CAST(len(list_filter(lines,
                    x -> starts_with(ltrim(x), '-')
                      or starts_with(ltrim(x), '*')
                      or starts_with(ltrim(x), '•'))) AS DOUBLE)
               / CAST(greatest(len(lines), 1) AS DOUBLE), 6)
           as bullet_line_frac,
         round(CAST(len(list_filter(lines,
                    x -> ends_with(rtrim(x), '...'))) AS DOUBLE)
               / CAST(greatest(len(lines), 1) AS DOUBLE), 6)
           as ellipsis_line_frac,
         round(CAST(len(list_filter(toks,
                    x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
               / CAST(greatest(len(toks), 1) AS DOUBLE), 6)
           as alpha_word_frac,
         CAST(len(list_filter({stops},
                    w -> list_contains(toks, w))) AS BIGINT) as stop_hits
  from base)
select *,
       (pass_words and pass_mean_len and pass_symbols and pass_bullets
        and pass_ellipsis and pass_alpha and pass_stops) as passes
from (
  select doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_frac,
         ellipsis_line_frac, alpha_word_frac, stop_hits,
         (n_words >= {int(min_words)} and n_words <= {int(max_words)})
           as pass_words,
         (mean_word_len >= CAST({float(min_mean_word_len)!r} AS DOUBLE)
          and mean_word_len <= CAST({float(max_mean_word_len)!r} AS DOUBLE))
           as pass_mean_len,
         (symbol_ratio <= CAST({float(max_symbol_ratio)!r} AS DOUBLE))
           as pass_symbols,
         (bullet_line_frac <= CAST({float(max_bullet_line_frac)!r} AS DOUBLE))
           as pass_bullets,
         (ellipsis_line_frac
            <= CAST({float(max_ellipsis_line_frac)!r} AS DOUBLE))
           as pass_ellipsis,
         (alpha_word_frac >= CAST({float(min_alpha_word_frac)!r} AS DOUBLE))
           as pass_alpha,
         (stop_hits >= {int(min_stop_hits)}) as pass_stops
  from feat) ruled
"""


def semantic_dedup_sql(
    table: str, id_col: str, vec_col: str, threshold: float = 0.95,
    n_lists: int = 16,
) -> str:
    """similarity.semantic_dedup twin (SemDeDup, min_ids centroids):
    the ivf_topk_sql assignment CTE, within-list l<r pairs at rounded
    cosine >= threshold, the recursive min-label component walk, and
    min-id survivor selection."""
    cos_raw = cosine_sql("v", "cv")
    return f"""
with recursive cents as (
  select CAST(row_number() over (order by {id_col} asc) - 1 AS BIGINT) as c,
         {vec_col} as cv
  from (select {id_col}, {vec_col} from {table}
        order by {id_col} asc limit {int(n_lists)})),
corpus as (select {id_col} as vid, {vec_col} as v from {table}),
c_ranked as (
  select vid, v, c,
         row_number() over (partition by vid
                            order by {cos_raw} desc, c desc) as rn
  from corpus, cents),
c_assign as (select vid, v, c as lst from c_ranked where rn = 1),
edges0 as (
  select L.vid as l_id, R.vid as r_id
  from c_assign L join c_assign R on L.lst = R.lst and L.vid < R.vid
  where round({cosine_sql('L.v', 'R.v')}, 6)
        >= CAST({float(threshold)!r} AS DOUBLE)),
edges as (
  select l_id as u, r_id as w from edges0
  union
  select r_id as u, l_id as w from edges0),
walk(u, comp) as (
  select u, u from edges
  union
  select e.w, k.comp from walk k join edges e on e.u = k.u),
comps as (select u as vid, min(comp) as comp from walk group by u)
select a.vid as {id_col},
       CAST(a.lst AS INTEGER) as list_id,
       (c.comp is null or c.comp = a.vid) as kept
from c_assign a left join comps c on a.vid = c.vid
"""


def _sql_str(s: str) -> str:
    """SQL single-quoted literal with quote doubling."""
    return "'" + s.replace("'", "''") + "'"


def normalize_text_sql(
    table: str, key: str, val: str, lowercase: bool = False
) -> str:
    """Mirror of functions.canon.normalize_text: same replacement
    order (ellipsis regex, shared translate maps, control strip,
    horizontal-whitespace collapse, newline-adjacent trim, trim)."""
    from ..functions.canon import (
        ACCENT_FROM,
        ACCENT_TO,
        PUNCT_FROM,
        PUNCT_TO,
    )

    frm = _sql_str(ACCENT_FROM + PUNCT_FROM)
    to = _sql_str(ACCENT_TO + PUNCT_TO)
    ctrl = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
    lo = "lower(x5)" if lowercase else "x5"
    return f"""
with t0 as (select {key} as id, coalesce({val}, '') as t from {table}),
t1 as (select id, t,
         regexp_replace(t, '…', '...', 'g') as x1 from t0),
t2 as (select id, t, translate(x1, {frm}, {to}) as x2 from t1),
t3 as (select id, t, regexp_replace(x2, '{ctrl}', '', 'g') as x3 from t2),
t4 as (select id, t,
         regexp_replace(x3, '[ \t\r]+', ' ', 'g') as x4 from t3),
t5 as (select id, t,
         trim(regexp_replace(x4, ' ?\n ?', chr(10), 'g')) as x5 from t4)
select id, {lo} as norm_text,
       CAST(length(t) AS INTEGER) as n_chars,
       CAST(length({lo}) AS INTEGER) as n_chars_norm
from t5
"""


def dedup_lines_in_doc_sql(table: str, key: str, val: str) -> str:
    """Mirror of functions.canon.dedup_lines_in_doc: keep-first exact
    line dedup via the indexed list_filter lambda (DuckDB's index and
    list_position are both 1-based, matching Spark's
    array_position == i+1 on the 0-based lambda index)."""
    return f"""
with d as (
  select {key} as id,
         string_split(coalesce({val}, ''), chr(10)) as lines
  from {table}),
k as (
  select id, lines,
         list_filter(lines,
                     (x, i) -> x = '' or list_position(lines, x) = i)
           as kept
  from d)
select id,
       array_to_string(kept, chr(10)) as clean_text,
       CAST(len(lines) AS INTEGER) as n_lines,
       CAST(len(lines) - len(kept) AS INTEGER) as n_dropped
from k
"""


def chunk_documents_sql(
    table: str, key: str, val: str,
    chunk_tokens: int = 128, stride: int = 64,
) -> str:
    """Mirror of functions.canon.chunk_documents: same tokenization
    (case-preserving whitespace split), window count, and slicing
    (DuckDB list_slice is begin/END-inclusive vs Spark's
    begin/LENGTH — end = start + chunk_tokens - 1)."""
    c, s = int(chunk_tokens), int(stride)
    return f"""
with d as (
  select {key} as id,
         list_filter(str_split_regex(coalesce({val}, ''), '[ \t\r\n]'),
                     x -> trim(x) != '') as toks
  from {table}),
b as (select id, toks, len(toks) as n from d where len(toks) > 0),
e as (
  select id, toks,
         unnest(generate_series(
             0, case when n <= {c} then 0
                     else (n - {c} + {s} - 1) // {s} end)) as chunk_id
  from b)
select id, CAST(chunk_id AS INTEGER) as chunk_id,
       CAST(len(list_slice(toks, chunk_id * {s} + 1,
                           chunk_id * {s} + {c})) AS INTEGER) as n_tokens,
       array_to_string(list_slice(toks, chunk_id * {s} + 1,
                                  chunk_id * {s} + {c}), ' ')
         as chunk_text
from e
"""


def domain_cooccurrence_edges_sql(table: str, key: str, val: str) -> str:
    """Mirror of operators.graph.domain_cooccurrence_edges: same URL
    and authority regexes (shared with url_domain_stats), first-
    occurrence ordering, cites-next lead, self-loop drop, distinct."""
    url_pat = next(p for n, p, _ in PII_PATTERNS if n == "url")
    return f"""
with urls as (
  select {key} as id, u.url, u.pos
  from {table},
       lateral (select unnest(regexp_extract_all({val}, '{url_pat}'))
                  as url,
                unnest(generate_series(
                    1, len(regexp_extract_all({val}, '{url_pat}'))))
                  as pos) u),
doms as (
  select id, pos,
         lower(regexp_extract(url, 'https?://([^/?# \t\r\n]+)', 1))
           as domain
  from urls),
firsts as (
  select id, domain, min(pos) as first_pos
  from doms where domain != '' group by id, domain),
nxt as (
  select domain as src,
         lead(domain) over (partition by id order by first_pos) as dst
  from firsts)
select distinct src, dst from nxt
where dst is not null and src != dst
"""


def pagerank_sql(
    edges_sql: str,
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> str:
    """Mirror of operators.graph.pagerank as a recursive CTE: the
    identical scaled-BIGINT recurrence (integer division truncation
    included), iterated exactly ``iterations`` times. ``edges_sql``
    must yield ``(src, dst)``."""
    d, it, sc = int(damping_pct), int(iterations), int(scale)
    return f"""
with recursive
edges0 as ({edges_sql}),
e as (select distinct src as u, dst as v from edges0),
nodes as (
  -- union all + distinct, NOT bare UNION: DuckDB skips the implicit
  -- duplicate-elimination of a union CTE inside WITH RECURSIVE
  select distinct node from (
    select u as node from e union all select v as node from e)),
outd as (select u, count(*) as outdeg from e group by u),
nn as (select count(*) as n from nodes),
pr as (
  select 0 as it, node,
         CAST({sc} // (select n from nn) AS BIGINT) as rank_scaled
  from nodes
  union all
  select cur.it + 1, n.node,
         CAST((({100 - d} * {sc}) // (100 * (select n from nn)))
              + ({d} * coalesce(c.contrib, 0)) // 100 AS BIGINT)
  from (select distinct it from pr where it < {it}) cur
  cross join nodes n
  left join (
    select pr.it as cit, e.v as node,
           sum(pr.rank_scaled // o.outdeg) as contrib
    from pr join e on pr.node = e.u join outd o on o.u = e.u
    group by pr.it, e.v) c
  on c.node = n.node and c.cit = cur.it)
select node, rank_scaled,
       round(CAST(rank_scaled AS DOUBLE)
             / CAST({sc} AS DOUBLE), 12) as rank
from pr where it = {it}
"""


def domain_pagerank_sql(
    table: str, key: str, val: str,
    iterations: int = 10, damping_pct: int = 85,
) -> str:
    """domain_cooccurrence_edges |> pagerank, composed."""
    return pagerank_sql(
        domain_cooccurrence_edges_sql(table, key, val),
        iterations=iterations,
        damping_pct=damping_pct,
    )


def c4_rules_sql(
    table: str, key: str, val: str,
    min_line_words: int = 5, min_sentences: int = 3,
) -> str:
    """functions.text.c4_rules twin (Raffel et al. 2020 §2.2):
    identical line predicate (terminal punctuation, min words, no
    'javascript'), page flags, and terminal-run sentence proxy."""
    mlw = int(min_line_words)
    return f"""
with base as (
  select {key} as doc_id, coalesce({val}, '') as t,
         string_split(coalesce({val}, ''), chr(10)) as lines
  from {table}),
k as (
  select doc_id, t, lines,
         list_filter(lines, x ->
           regexp_matches(rtrim(x), '[.!?"]$')
           and len(list_filter(str_split_regex(trim(x), '[ \t]+'),
                               w -> w != '')) >= {mlw}
           and not regexp_matches(lower(x), '\\bjavascript\\b'))
           as kept
  from base),
feat as (
  select doc_id, t, lines, kept,
         -- DuckDB array_to_string of an EMPTY list is NULL
         coalesce(array_to_string(kept, chr(10)), '') as clean_text
  from k)
select doc_id,
       CAST(len(lines) AS BIGINT) as n_lines,
       CAST(len(kept) AS BIGINT) as n_kept_lines,
       clean_text,
       CAST(len(regexp_extract_all(clean_text, '[.!?]+')) AS BIGINT)
         as n_sentences,
       contains(lower(t), 'lorem ipsum') as has_lorem_ipsum,
       contains(t, '{{') as has_curly_brace,
       (len(regexp_extract_all(clean_text, '[.!?]+'))
          >= {int(min_sentences)}) as pass_sentences,
       (len(regexp_extract_all(clean_text, '[.!?]+'))
          >= {int(min_sentences)}
        and not contains(lower(t), 'lorem ipsum')
        and not contains(t, '{{')) as passes
from feat
"""


def split_sentences_sql(table: str, key: str, val: str) -> str:
    """functions.canon.split_sentences twin: same terminal-run regex,
    trim-then-drop-empties before dense 0-based numbering."""
    return f"""
with d as (
  select {key} as id,
         list_filter(
           list_transform(
             regexp_extract_all(coalesce({val}, ''),
                                '[^.!?]+[.!?]+|[^.!?]+$'),
             x -> trim(x)),
           x -> x != '') as sents
  from {table})
select id, CAST(u.pos - 1 AS INTEGER) as sent_id, u.sentence
from d,
     lateral (select unnest(sents) as sentence,
                     unnest(generate_series(1, len(sents))) as pos) u
"""


def build_vocab_sql(
    table: str, key: str, val: str, top_k: int = 1000
) -> str:
    """functions.text.build_vocab twin: the single-node engine ranks
    with a plain global window — legal here because (count DESC,
    token ASC) is a total order, so the distributed two-level rank
    and this window agree exactly."""
    return f"""
with ex as (
  select {key} as id, unnest({_ws_bag_sql(val)}) as token
  from {table}),
counts as (
  select token, count(*) as n_occ, count(distinct id) as n_docs
  from ex group by token),
tot as (select sum(n_occ) as total from counts),
r as (
  select token, n_occ, n_docs,
         row_number() over (order by n_occ desc, token) as vocab_rank,
         sum(n_occ) over (order by n_occ desc, token
                          rows unbounded preceding) as cum
  from counts)
select CAST(vocab_rank AS INTEGER) as vocab_rank, token,
       CAST(n_occ AS BIGINT) as n_occ,
       CAST(n_docs AS BIGINT) as n_docs,
       round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) as cum_frac
from r, tot where vocab_rank <= {int(top_k)}
"""


def corpus_diff_sql(
    old_table: str, new_table: str, key: str, val: str
) -> str:
    """operators.curate.corpus_diff twin: doc_fingerprint's
    normalized md5 per side, full-outer on id, the same status
    ladder."""
    fp = (
        "md5(trim(regexp_replace(lower({v}), '\\s+', ' ', 'g')))"
    )
    ofp = fp.format(v=val)
    return f"""
with o as (select {key} as id, {ofp} as old_fingerprint
           from {old_table}),
n as (select {key} as id, {ofp} as new_fingerprint
      from {new_table})
select coalesce(o.id, n.id) as id,
       case when o.id is null then 'added'
            when n.id is null then 'removed'
            -- IS DISTINCT FROM = Spark ~eqNullSafe (NULL-text rows)
            when old_fingerprint is distinct from new_fingerprint
              then 'changed'
            else 'unchanged' end as status,
       old_fingerprint, new_fingerprint
from o full outer join n on o.id = n.id
"""


def resample_events_sql(
    table: str, ts: str, key: str, value: str | None = None,
    step_hours: int = 6,
) -> str:
    """operators.temporal.resample_events twin: same day-anchored
    bucketing (trunc-to-hour minus hour-of-day mod step), dense
    day-anchored grid (per-day offsets 0, step, … < 24, clipped to
    the observed bucket range — NOT a uniform series from lo, which
    diverges from the fact buckets when 24 % step != 0) x distinct
    keys, zero-filled left join."""
    s = int(step_hours)
    b = (
        f"date_trunc('hour', {ts}) "
        f"- to_hours(CAST(extract(hour from {ts}) % {s} AS BIGINT))"
    )
    offsets = list(range(0, 24, s)) if s < 24 else [0]
    off_list = ", ".join(str(o) for o in offsets)
    val = (
        f"CAST(sum(CAST({value} AS DECIMAL(18,2))) AS DOUBLE)"
        if value
        else "CAST(NULL AS DOUBLE)"
    )
    return f"""
with facts as (
  select {b} as bucket_start, {key} as k,
         count(*) as n_events, {val} as sum_value
  from {table} group by 1, 2),
bounds as (select min({b}) as lo, max({b}) as hi from {table}),
grid_times as (
  select d.day + to_hours(CAST(o.off AS BIGINT)) as bucket_start
  from bounds,
       lateral (select unnest(generate_series(
           date_trunc('day', lo), date_trunc('day', hi),
           interval 1 day)) as day) d,
       lateral (select unnest([{off_list}]) as off) o
  where d.day + to_hours(CAST(o.off AS BIGINT)) between lo and hi),
keys as (select distinct {key} as k from {table} where {key} is not null),
grid as (select g.bucket_start, k.k from grid_times g cross join keys k)
select g.bucket_start, g.k as {key},
       CAST(coalesce(f.n_events, 0) AS BIGINT) as n_events,
       coalesce(f.sum_value, 0.0) as sum_value,
       (f.n_events is null) as is_gap
from grid g left join facts f
  on g.bucket_start = f.bucket_start and g.k = f.k
"""


def weighted_jaccard_neardup_sql(
    table: str, key: str, val: str, threshold: float,
    max_df_frac: float = 1.0,
) -> str:
    """operators.dedup.weighted_jaccard_near_duplicates twin: same
    distinct lowercased token sets, the same scaled-integer rational
    IDF, integer cross-multiplied threshold, round-6 display score."""
    scale = 10**6
    t_scaled = int(round(float(threshold) * scale))
    return f"""
with toks as (
  select distinct {key} as id, t.tok as token
  from {table},
       lateral (select unnest(list_distinct(list_filter(
           str_split_regex(lower({val}), '[ \t\r\n]'),
           x -> trim(x) != ''))) as tok) t),
nd as (select count(*) as n from {table}),
dfreq as (select token, count(*) as df from toks group by token),
weighted as (
  select token, df, n,
         ((2 * n - 2 * df + 1) * {scale}) // (2 * df + 1) as w
  from dfreq, nd),
tw as (select t.id, t.token, w.w, w.df, w.n
       from toks t join weighted w on t.token = w.token),
totals as (select id, sum(w) as wtotal from tw group by id),
cand as (select id, token, w from tw
         where CAST(df AS DOUBLE)
               <= CAST({float(max_df_frac)!r} AS DOUBLE)
                  * CAST(n AS DOUBLE)),
shared as (
  select l.id as l_id, r.id as r_id, sum(l.w) as shared_w
  from cand l join cand r on l.token = r.token and l.id < r.id
  group by l.id, r.id),
scored as (
  select s.l_id, s.r_id, s.shared_w,
         lt.wtotal + rt.wtotal - s.shared_w as union_w
  from shared s
  join totals lt on s.l_id = lt.id
  join totals rt on s.r_id = rt.id)
select l_id, r_id,
       round(CAST(shared_w AS DOUBLE) / CAST(union_w AS DOUBLE), 6)
         as wjaccard
from scored
where CAST(shared_w AS HUGEINT) * {scale}
      >= CAST({t_scaled} AS HUGEINT) * union_w
"""
