"""Deduplication and similarity queries: exact, MinHash/LSH, SimHash,
containment, substring, chunk and paragraph dedup, cosine top-k, ANN
(LSH, IVF, PQ, IVF-PQ), SemDeDup, embedding diagnostics,
decontamination and entity resolution.

Ratios and similarities are exact integer divisions or identical IEEE
op sequences (sequential left folds), compared unrounded; hashing uses
the portable md5 head (``portable_hash64``) both engines compute
identically.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.rounding import stable_round, stable_round_sql
from be_analytic_etl_spark.operators import curation as C
from be_analytic_etl_spark.operators import dedup as D
from be_analytic_etl_spark.operators import similarity as S
from be_analytic_etl_spark.operators import textstats as T
from be_analytic_etl_spark.operators.entity import MAX_NAME_LEN as _ER_MAX_NAME_LEN
from be_analytic_etl_spark.operators.similarity import PROBE_WHERE_SQL
from be_analytic_etl_spark.queries._shared import (
    _dot_sql,
    _grams_sql,
    _JACCARD,
    _LSH_BANDS,
    _LSH_MAXBUCKET,
    _LSH_ROWS,
    _LSH_THRESH,
    _MH_HASHES,
    _MH_SHINGLE,
    _quality_ctes,
    _sig_sql,
    _t,
    _TOKS,
    _toks_sql,
)
from be_analytic_etl_spark.registry import register


def _cos_sql(a: str, b: str) -> str:
    """similarity.cosine() twin: zero-norm guard, then dot / (|a| * |b|)."""
    return (
        f"CASE WHEN sqrt({_dot_sql(a, a)}) = 0 OR sqrt({_dot_sql(b, b)}) = 0 "
        f"THEN 0.0 ELSE {_dot_sql(a, b)} "
        f"/ (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})) END"
    )


# ---------------------------------------------------------------------------
# Exact dedup: group identical texts by md5 fingerprint (16-byte shuffle key
# instead of the document — the at-scale trick), keep min id.
def q_ext_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_keep_min(_t(spark, sf_dir, "documents"))


register(
    "ext_exact_dedup",
    q_ext_exact_dedup,
    """
    SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)


def q_ext_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sig = D.minhash_signature("text", _MH_HASHES, _MH_SHINGLE, portable=True)
    return docs.select("doc_id", F.posexplode(sig).alias("seed", "minhash"))


register(
    "ext_minhash_sig",
    q_ext_minhash_sig,
    f"""
    WITH tok AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), sh AS (
        SELECT doc_id, {_grams_sql("toks", _MH_SHINGLE)} AS g FROM tok
    ), sig AS (
        SELECT doc_id, {_sig_sql("g", _MH_HASHES)} AS sig FROM sh
    )
    SELECT doc_id, CAST(s AS INTEGER) AS seed, sig[s + 1] AS minhash
    FROM sig, range(0, {_MH_HASHES}) r(s)
    """,
)


def q_ext_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs,
        num_hashes=_MH_HASHES,
        bands=_LSH_BANDS,
        shingle_n=_MH_SHINGLE,
        jaccard_threshold=_LSH_THRESH,
        max_bucket=_LSH_MAXBUCKET,
        portable=True,
        round_to=None,
    )


register(
    "ext_minhash_lsh_neardup",
    q_ext_minhash_lsh_neardup,
    f"""
    WITH tok AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), sh AS (
        SELECT doc_id, {_grams_sql("toks", _MH_SHINGLE)} AS g FROM tok
    ), sig AS (
        SELECT doc_id, g, {_sig_sql("g", _MH_HASHES)} AS sig FROM sh
    ), banded AS (
        SELECT doc_id, g, b AS band,
               array_to_string(list_slice(sig, b * {_LSH_ROWS} + 1,
                                          b * {_LSH_ROWS} + {_LSH_ROWS}), ',') AS bucket
        FROM sig, range(0, {_LSH_BANDS}) r(b)
    ), kept AS (
        SELECT band, bucket FROM banded
        GROUP BY band, bucket HAVING COUNT(*) <= {_LSH_MAXBUCKET}
    ), keep AS (
        SELECT banded.* FROM banded JOIN kept USING (band, bucket)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM keep a JOIN keep b USING (band, bucket)
        WHERE a.doc_id < b.doc_id
    ), verified AS (
        SELECT id_a, id_b, a.g AS ga, b.g AS gb
        FROM cand JOIN sh a ON cand.id_a = a.doc_id JOIN sh b ON cand.id_b = b.doc_id
    )
    SELECT id_a, id_b, {_JACCARD} AS jaccard
    FROM verified
    WHERE {_JACCARD} >= {_LSH_THRESH}
    """,
)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs with (lang, length-band) blocking — the
# standalone verifier. Blocking is the scale contract: lang alone leaves a
# quadratic block (~2M pairs in the 'en' block at sf0.1, ~100x that at
# sf10); near-dup docs have near-equal length, so a 64-char length band
# keeps recall while bounding each block. At 100 TB the block key is an
# LSH bucket (see ext_minhash_lsh_neardup).
_LEN_BAND = 64


def q_ext_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn(
        "len_band", F.floor(F.col("n_chars") / _LEN_BAND)
    )
    return D.ngram_jaccard_pairs(
        docs, block_cols=["lang", "len_band"], shingle_n=3, threshold=0.5, round_to=None
    )


register(
    "ext_ngram_jaccard",
    q_ext_ngram_jaccard,
    f"""
    WITH tok AS (
        SELECT doc_id, lang, n_chars // {_LEN_BAND} AS len_band,
               {_TOKS} AS toks
        FROM documents
    ), sh AS (
        SELECT doc_id, lang, len_band, {_grams_sql("toks", 3)} AS g FROM tok
    ), pairs AS (
        SELECT a.lang AS lang, a.len_band AS len_band,
               a.doc_id AS id_a, b.doc_id AS id_b,
               a.g AS ga, b.g AS gb
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.len_band = b.len_band AND a.doc_id < b.doc_id
    )
    SELECT lang, len_band, id_a, id_b, {_JACCARD} AS jaccard
    FROM pairs
    WHERE {_JACCARD} >= 0.5
    """,
)


# ---------------------------------------------------------------------------
# SimHash — registered with the portable 60-bit hash (md5-head, the same
# base as minhash) so every bit is value-checked by DuckDB; the xxhash64
# 64-bit scale path keeps its pure-Python-reference pytest coverage
# (tests/test_extensions.py). Same aggregation plan either way: one explode
# + one groupBy with per-bit conditional sums (partial agg map-side).
def _simhash_sql_body() -> str:
    """DuckDB twin of simhash(portable=True): per-token 60-bit md5-head
    hash; bit i of the result is set when set-bit votes outnumber clear-bit
    votes (2*ones > n_tokens)."""
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> ((x >> {i}) & 1) = 1)) > len(hs) "
        f"THEN CAST({2**i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(60)
    )
    return f"""
    tok AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), h AS (
        SELECT doc_id,
               list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
        FROM tok
    ), sim AS (
        SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM h
    )"""


# ---------------------------------------------------------------------------
# Similarity search: exact brute-force cosine top-k (baseline path). The
# query set broadcasts; one narrow pass over the embedding table; per-query
# top-k window. Unrounded cosine = identical IEEE fold in both engines.
_TOPK = 5


def _queries_df(emb: DataFrame) -> DataFrame:
    return emb.filter(S.probe_filter()).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def q_ext_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, _queries_df(emb), k=_TOPK, round_to=None)


register(
    "ext_cosine_topk",
    q_ext_cosine_topk,
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE {PROBE_WHERE_SQL}
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               CASE WHEN sqrt({_dot_sql("q.qv", "q.qv")}) = 0
                         OR sqrt({_dot_sql("e.embedding", "e.embedding")}) = 0
                    THEN 0.0
                    ELSE {_dot_sql("q.qv", "e.embedding")}
                         / (sqrt({_dot_sql("q.qv", "q.qv")})
                            * sqrt({_dot_sql("e.embedding", "e.embedding")})) END
                   AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {_TOPK}
    """,
)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs, blocked by label (at scale: LSH bucket).
# Synthetic embeddings have no true near-dups (global max pairwise cosine
# ~0.51 at sf0.01), so the registered query uses a low threshold to produce
# non-trivial, value-checked output; production default stays high.
_COS_THRESH = 0.35


def q_ext_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_pairs_above(
        emb, block_cols=["label"], threshold=_COS_THRESH, round_to=None
    )


register(
    "ext_cosine_neardup",
    q_ext_cosine_neardup,
    f"""
    WITH pairs AS (
        SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
               a.embedding AS va, b.embedding AS vb
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
    ), scored AS (
        SELECT label, id_a, id_b,
               CASE WHEN sqrt({_dot_sql("va", "va")}) = 0
                         OR sqrt({_dot_sql("vb", "vb")}) = 0
                    THEN 0.0
                    ELSE {_dot_sql("va", "vb")}
                         / (sqrt({_dot_sql("va", "va")}) * sqrt({_dot_sql("vb", "vb")})) END
                   AS cos_sim
        FROM pairs
    )
    SELECT label, id_a, id_b, cos_sim FROM scored WHERE cos_sim >= {_COS_THRESH}
    """,
)


# ---------------------------------------------------------------------------
# LSH-bucketed approximate NN (random hyperplanes) — the scale path.
# The hyperplanes are deterministic driver-side doubles (sha256-derived)
# inlined as Spark literals, so the SAME literals inline into generated
# DuckDB SQL: bucket = fold of dot-product sign bits, exact cosine re-rank
# within the shared bucket — the full approximate algorithm value-checked
# end to end (recall<1 vs brute force is BY DESIGN and additionally
# measured in pytest).
_LSH_ANN_DIM = 64


_LSH_ANN_PLANES = 6


_LSH_ANN_SEED = 42


def q_ext_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.lsh_bucket_ann(
        emb,
        _queries_df(emb),
        dim=_LSH_ANN_DIM,
        n_planes=_LSH_ANN_PLANES,
        k=_TOPK,
        round_to=None,
        seed=_LSH_ANN_SEED,
    )


def _lsh_ann_oracle() -> str:
    planes = S._pseudo_hyperplanes(_LSH_ANN_DIM, _LSH_ANN_PLANES, _LSH_ANN_SEED)
    rows = ",\n               ".join(
        f"({p}, CAST([{', '.join(repr(v) for v in row)}] AS DOUBLE[]))"
        for p, row in enumerate(planes)
    )
    np = _LSH_ANN_PLANES
    return f"""
    WITH planes(p, pv) AS (
        VALUES {rows}
    ), eb AS (
        SELECT vec_id, embedding,
               SUM(CASE WHEN {_dot_sql("pv", "embedding")} >= 0
                        THEN (CAST(1 AS BIGINT) << ({np} - 1 - p)) ELSE 0 END) AS bucket
        FROM embeddings, planes
        GROUP BY vec_id, embedding
    ), qb AS (
        SELECT vec_id AS query_id, embedding AS qv, bucket FROM eb
        WHERE {PROBE_WHERE_SQL}
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_cos_sql("q.qv", "e.embedding")} AS cos_sim
        FROM eb e JOIN qb q ON e.bucket = q.bucket
        WHERE e.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {_TOPK}
    """


register("ext_lsh_ann", q_ext_lsh_ann, _lsh_ann_oracle())


# ---------------------------------------------------------------------------
# IVF approximate NN — the other scale path. The coarse quantizer is
# deterministic (n_cells lowest-id vectors), so unlike the hyperplane LSH
# variant the full algorithm — cell assignment, probing, re-rank — is
# SQL-replicable and value-checked end to end.
_IVF_CELLS = 8


_IVF_PROBE = 2


def q_ext_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_ann(
        emb,
        _queries_df(emb),
        n_cells=_IVF_CELLS,
        n_probe=_IVF_PROBE,
        k=_TOPK,
        round_to=None,
    )


register(
    "ext_ivf_ann",
    q_ext_ivf_ann,
    f"""
    WITH cent AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               embedding AS cv
        FROM embeddings
        WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS})
    ), assign AS (
        SELECT neighbor_id, ev, cell FROM (
            SELECT e.vec_id AS neighbor_id, e.embedding AS ev, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_cos_sql("c.cv", "e.embedding")} DESC, c.cell) AS rn
            FROM embeddings e, cent c
            WHERE e.embedding IS NOT NULL)
        WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE {PROBE_WHERE_SQL} AND embedding IS NOT NULL
    ), probe AS (
        SELECT query_id, qv, cell FROM (
            SELECT q.query_id, q.qv, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_cos_sql("c.cv", "q.qv")} DESC, c.cell) AS rn
            FROM q, cent c)
        WHERE rn <= {_IVF_PROBE}
    ), scored AS (
        SELECT p.query_id, a.neighbor_id,
               {_cos_sql("p.qv", "a.ev")} AS cos_sim
        FROM probe p JOIN assign a ON p.cell = a.cell
        WHERE a.neighbor_id <> p.query_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {_TOPK}
    """,
)


# ---------------------------------------------------------------------------
# Benchmark decontamination: 8-gram collision between corpus docs and a
# benchmark subset (doc_id % 97 == 0 stands in for the eval suite). The
# benchmark side broadcasts; only 8-byte gram hashes cross the wire.
def q_ext_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return D.ngram_contamination(docs, bench, ngram_n=8)


register(
    "ext_contamination",
    q_ext_contamination,
    f"""
    WITH tok AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), g AS (
        SELECT doc_id, unnest({_grams_sql("toks", 8)}) AS gm FROM tok
    ), gh AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(gm), 1, 15) AS BIGINT) AS h
        FROM g
    ), bh AS (
        SELECT doc_id AS bench_id, h FROM gh WHERE doc_id % 97 = 0
    ), j AS (
        SELECT gh.doc_id, gh.h, bh.bench_id
        FROM gh JOIN bh ON gh.h = bh.h AND gh.doc_id <> bh.bench_id
    )
    SELECT doc_id, COUNT(DISTINCT h) AS n_shared_grams,
           COUNT(DISTINCT bench_id) AS n_bench_docs
    FROM j GROUP BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# K-means clustering (operators/clustering.py): 2 Lloyd iterations over the
# embeddings table in exact quantized arithmetic — assignment is map-only
# with literal centroids, update is one partial-agg groupBy; the DuckDB
# twin (kmeans_sql_twin, generated from the same parameters) replays the
# identical iterations, making an ITERATIVE algorithm value-checkable.
def q_ext_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.clustering import kmeans_fit_predict

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_fit_predict(emb, "vec_id", "embedding", k=4, iters=2, dim=64)


def _kmeans_oracle() -> str:
    from be_analytic_etl_spark.operators.clustering import kmeans_sql_twin

    return kmeans_sql_twin("embeddings", "vec_id", "embedding", k=4, iters=2, dim=64)


register("ext_kmeans", q_ext_kmeans, _kmeans_oracle())


# ---------------------------------------------------------------------------
# Semantic near-dup pairs — embedding-space dedup at scale: map-only IVF
# cell assignment (centroid literals, zero shuffles) blocks the quadratic
# pair search into cells, then exact within-cell cosine >= threshold.
# Feed the pairs into graph.connected_components for group representatives
# (exactly what ext_dedup_groups does for MinHash pairs). Recall < 1 by
# design: pairs straddling a cell boundary are missed — the standard
# IVF-dedup tradeoff; raise n_cells' overlap (multi-assign) to trade
# compute for recall.
_SEM_THRESH = 0.35


def q_ext_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cells = S.assign_cells(emb, n_cells=_IVF_CELLS)
    return S.cosine_pairs_above(
        cells, block_cols=["cell"], threshold=_SEM_THRESH, round_to=None
    )


register(
    "ext_semantic_neardup",
    q_ext_semantic_neardup,
    f"""
    WITH cent AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               embedding AS cv
        FROM embeddings
        WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS})
    ), assign AS (
        SELECT vec_id, embedding, cell FROM (
            SELECT e.vec_id, e.embedding, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_cos_sql("c.cv", "e.embedding")} DESC, c.cell) AS rn
            FROM embeddings e, cent c)
        WHERE rn = 1
    ), pairs AS (
        SELECT a.cell AS cell, a.vec_id AS id_a, b.vec_id AS id_b,
               a.embedding AS va, b.embedding AS vb
        FROM assign a JOIN assign b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
    ), scored AS (
        SELECT cell, id_a, id_b, {_cos_sql("va", "vb")} AS cos_sim FROM pairs
    )
    SELECT cell, id_a, id_b, cos_sim FROM scored WHERE cos_sim >= {_SEM_THRESH}
    """,
)


# ---------------------------------------------------------------------------
# Semantic near-dup with IVF MULTI-PROBE (n_assign=2): each vector joins
# its top-2 cells, so a pair straddling one cell boundary still co-occurs
# whenever either vector's second-best cell is the other's best — recall
# over the single-assign query rises at ~2x candidate cost (asserted a
# superset in tests/test_similarity_ops.py). Pairs sharing both cells
# appear twice in the candidate set; one DISTINCT on (id_a, id_b) output
# rows restores set semantics. Assignment stays map-only (explode, no
# join); still zero shuffles before the within-cell pair search.
_SEM_ASSIGN = 2


def q_ext_semantic_neardup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cells = S.assign_cells(emb, n_cells=_IVF_CELLS, n_assign=_SEM_ASSIGN)
    pairs = S.cosine_pairs_above(
        cells, block_cols=["cell"], threshold=_SEM_THRESH, round_to=None
    )
    return pairs.select("id_a", "id_b", "cos_sim").dropDuplicates(["id_a", "id_b"])


register(
    "ext_semantic_neardup_multiprobe",
    q_ext_semantic_neardup_multiprobe,
    f"""
    WITH cent AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               embedding AS cv
        FROM embeddings
        WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS})
    ), assign AS (
        SELECT vec_id, embedding, cell FROM (
            SELECT e.vec_id, e.embedding, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_cos_sql("c.cv", "e.embedding")} DESC, c.cell) AS rn
            FROM embeddings e, cent c)
        WHERE rn <= {_SEM_ASSIGN}
    ), pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
               a.embedding AS va, b.embedding AS vb
        FROM assign a JOIN assign b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
    ), scored AS (
        SELECT id_a, id_b, {_cos_sql("va", "vb")} AS cos_sim FROM pairs
    )
    SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= {_SEM_THRESH}
    """,
)


# ---------------------------------------------------------------------------
# Incremental dedup: each NEW batch (doc_id % 5 == 0 stands in for today's
# crawl) classified against the already-ingested corpus — exact_dup by
# normalized fingerprint, near_dup by LSH-candidate + exact-Jaccard
# verification, else unique. The running-pipeline dedup shape: old-side
# fingerprint set and band index are incremental state (persist + append),
# so per-batch cost ∝ batch size, not corpus size.
_INC_FP_SQL = (
    f"md5(regexp_replace(lower(trim(coalesce(text, ''))), '{T.WS_PLUS}', ' ', 'g'))"
)


def q_ext_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    return D.incremental_dedup_status(
        new,
        old,
        num_hashes=_MH_HASHES,
        bands=_LSH_BANDS,
        shingle_n=_MH_SHINGLE,
        jaccard_threshold=_LSH_THRESH,
        portable=True,
    )


register(
    "ext_incremental_dedup",
    q_ext_incremental_dedup,
    f"""
    WITH nd AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
    ), od AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
    ), fpn AS (
        SELECT doc_id, {_INC_FP_SQL} AS fp FROM nd
    ), fpo AS (
        SELECT DISTINCT {_INC_FP_SQL} AS fp FROM od
    ), exact AS (
        SELECT DISTINCT doc_id FROM fpn JOIN fpo USING (fp)
    ), tn AS (
        SELECT doc_id, {_TOKS} AS toks FROM nd
    ), shn AS (
        SELECT doc_id, {_grams_sql("toks", _MH_SHINGLE)} AS g FROM tn
    ), sgn AS (
        SELECT doc_id, g, {_sig_sql("g", _MH_HASHES)} AS sig FROM shn
    ), bn AS (
        SELECT doc_id, b AS band,
               array_to_string(list_slice(sig, b * {_LSH_ROWS} + 1,
                                          b * {_LSH_ROWS} + {_LSH_ROWS}), ',') AS bucket
        FROM sgn, range(0, {_LSH_BANDS}) r(b)
    ), t_o AS (
        SELECT doc_id, {_TOKS} AS toks FROM od
    ), sho AS (
        SELECT doc_id, {_grams_sql("toks", _MH_SHINGLE)} AS g FROM t_o
    ), sgo AS (
        SELECT doc_id, g, {_sig_sql("g", _MH_HASHES)} AS sig FROM sho
    ), bo AS (
        SELECT doc_id, b AS band,
               array_to_string(list_slice(sig, b * {_LSH_ROWS} + 1,
                                          b * {_LSH_ROWS} + {_LSH_ROWS}), ',') AS bucket
        FROM sgo, range(0, {_LSH_BANDS}) r(b)
    ), cand AS (
        SELECT DISTINCT bn.doc_id, bo.doc_id AS old_id
        FROM bn JOIN bo USING (band, bucket)
    ), ver AS (
        SELECT DISTINCT cand.doc_id
        FROM cand
        JOIN (SELECT doc_id, g AS ga FROM shn) a ON cand.doc_id = a.doc_id
        JOIN (SELECT doc_id, g AS gb FROM sho) b ON cand.old_id = b.doc_id
        WHERE {_JACCARD} >= {_LSH_THRESH}
    )
    SELECT nd.doc_id,
           CASE WHEN exact.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN ver.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'unique' END AS status
    FROM nd
    LEFT JOIN exact ON nd.doc_id = exact.doc_id
    LEFT JOIN ver   ON nd.doc_id = ver.doc_id
    """,
)


# ---------------------------------------------------------------------------
# Cross-source duplicate overlap matrix: how many identical documents each
# pair of sources shares — the "which crawls re-crawl each other" census
# that decides dedup ordering in a multi-source corpus. Shuffles carry
# (fingerprint, source) only; the pair explosion is bounded by sources²
# per fingerprint (sources is a small set).
def q_ext_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        T.fingerprint_md5("text").alias("fp"), F.col("source")
    ).dropDuplicates()
    a = fp.select("fp", F.col("source").alias("source_a"))
    b = fp.select("fp", F.col("source").alias("source_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_docs"))
    )


register(
    "ext_cross_source_overlap",
    q_ext_cross_source_overlap,
    f"""
    WITH fp AS (
        SELECT DISTINCT
               md5(regexp_replace(lower(trim(coalesce(text, ''))), '{T.WS_PLUS}', ' ', 'g'))
                   AS fp,
               source
        FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared_docs
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)


# ---------------------------------------------------------------------------
# LSH recall estimation (operators/dedup.py): measured recall + candidate
# precision of the engine's own (num_hashes, bands, threshold) config on a
# deterministic 3% document sample — exact all-pairs Jaccard ground truth
# confined to the broadcast-sized sample, band-bucket candidates BEFORE
# verification. The tuning loop of a production dedup: recall prices the
# near-dups the config misses, candidate precision prices the wasted
# verification joins.
_LSHR_BUCKETS = 300


def q_ext_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.lsh_recall_estimate(
        docs,
        sample_buckets=_LSHR_BUCKETS,
        num_hashes=_MH_HASHES,
        bands=_LSH_BANDS,
        shingle_n=_MH_SHINGLE,
        jaccard_threshold=_LSH_THRESH,
        portable=True,
    )


def _lsh_recall_oracle() -> str:
    bucket = (
        "(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|lshrecall'), 1, 15) "
        f"AS BIGINT) % 10000) < {_LSHR_BUCKETS}"
    )
    return f"""
    WITH sample AS (
        SELECT doc_id AS id, text FROM documents WHERE {bucket}
    ), sh AS (
        SELECT id, {_grams_sql(_TOKS, _MH_SHINGLE)} AS g FROM sample
    ), truth AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM (SELECT id, g AS ga FROM sh) a
        JOIN (SELECT id, g AS gb FROM sh) b ON a.id < b.id
        WHERE {_JACCARD} >= {_LSH_THRESH}
    ), sig AS (
        SELECT id, {_sig_sql("g", _MH_HASHES)} AS sig FROM sh
    ), banded AS (
        SELECT id, b AS band,
               array_to_string(list_slice(sig, b * {_LSH_ROWS} + 1,
                                          b * {_LSH_ROWS} + {_LSH_ROWS}), ',') AS bucket
        FROM sig, range(0, {_LSH_BANDS}) r(b)
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM banded a JOIN banded b USING (band, bucket)
        WHERE a.id < b.id
    ), hit AS (
        SELECT id_a, id_b FROM truth INTERSECT SELECT id_a, id_b FROM cand
    ), m AS (
        SELECT (SELECT COUNT(*) FROM sample) AS n_sample,
               (SELECT COUNT(*) FROM truth) AS n_truth,
               (SELECT COUNT(*) FROM cand) AS n_cand,
               (SELECT COUNT(*) FROM hit) AS n_hit
    )
    SELECT n_sample, n_truth, n_cand, n_hit,
           CASE WHEN n_truth = 0 THEN 1.0
                ELSE CAST(n_hit AS DOUBLE) / n_truth END AS recall,
           CASE WHEN n_cand = 0 THEN 1.0
                ELSE CAST(n_hit AS DOUBLE) / n_cand END AS candidate_precision
    FROM m
    """


register("ext_lsh_recall", q_ext_lsh_recall, _lsh_recall_oracle())


# ---------------------------------------------------------------------------
# Embedding-table quality panel (operators/similarity.py): per-label norm
# moments, zero-vector and dimension-consistency checks — the pre-ANN
# gate. DECIMAL-exact norm sums make the means merge-order-proof; single
# partial-agg'd shuffle on the label.
def q_ext_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.similarity import embedding_stats

    return embedding_stats(
        _t(spark, sf_dir, "embeddings"), group_cols=["label"]
    )


def _embstats_oracle() -> str:
    from be_analytic_etl_spark.functions.rounding import (
        exact_dec_double_sql,
        stable_round_sql,
    )

    norm = f"sqrt({_dot_sql('embedding', 'embedding')})"
    # norms are irrational doubles: quantize via stable_round BEFORE the
    # decimal accumulation (raw double->decimal casts round under each
    # engine's own rule — divergence class caught at sf0.01 on the
    # class-separation distance sums). The SUM is an unbounded exact
    # accumulator -> VARCHAR-route the double cast (divergence class 5:
    # DuckDB HUGEINT->DOUBLE double-rounds past BIGINT range).
    norm_sum = f"SUM(CAST({stable_round_sql('nrm', 9)} AS DECIMAL(28,9)))"
    return f"""
    WITH base AS (
        SELECT label, {norm} AS nrm, len(embedding) AS dim FROM embeddings
    )
    SELECT label, COUNT(*) AS n,
           {exact_dec_double_sql(norm_sum)} / COUNT(*)
               AS mean_norm,
           MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
           CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           -- CAST: Spark size() is INT while DuckDB len() is BIGINT
           CAST(MIN(dim) AS INTEGER) AS dim_min,
           CAST(MAX(dim) AS INTEGER) AS dim_max
    FROM base GROUP BY label
    """


register("ext_embedding_stats", q_ext_embedding_stats, _embstats_oracle())


# ---------------------------------------------------------------------------
# LSH banding S-curve (operators/dedup.py::lsh_band_tuning): candidate
# recall/precision of EVERY banding of one 8-hash signature on the same
# deterministic sample as ext_lsh_recall — the measured table behind the
# (bands, rows_per_band) production choice. One signature pass serves all
# configs; the quadratic scoring stays sample-confined.
_TUNE_BANDS = (1, 2, 4, 8)


def q_ext_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.lsh_band_tuning(
        docs,
        sample_buckets=_LSHR_BUCKETS,
        num_hashes=_MH_HASHES,
        band_options=_TUNE_BANDS,
        shingle_n=_MH_SHINGLE,
        jaccard_threshold=_LSH_THRESH,
    )


def _lsh_tuning_oracle() -> str:
    bucket = (
        "(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|lshrecall'), 1, 15) "
        f"AS BIGINT) % 10000) < {_LSHR_BUCKETS}"
    )

    def cand_sql(bands: int) -> str:
        rows = _MH_HASHES // bands
        tests = [
            f"list_slice(sig_a, {i * rows + 1}, {i * rows + rows}) = "
            f"list_slice(sig_b, {i * rows + 1}, {i * rows + rows})"
            for i in range(bands)
        ]
        return "(" + " OR ".join(tests) + ")"

    per_b = " UNION ALL ".join(
        f"""
    SELECT CAST({b} AS INTEGER) AS bands,
           CAST({_MH_HASHES // b} AS INTEGER) AS rows_per_band,
           n_truth, n_cand_{b} AS n_cand, n_hit_{b} AS n_hit,
           CASE WHEN n_truth = 0 THEN 1.0
                ELSE CAST(n_hit_{b} AS DOUBLE) / n_truth END AS recall,
           CASE WHEN n_cand_{b} = 0 THEN 1.0
                ELSE CAST(n_hit_{b} AS DOUBLE) / n_cand_{b} END
               AS candidate_precision
    FROM m
    """
        for b in _TUNE_BANDS
    )
    cand_aggs = ", ".join(
        f"CAST(SUM(CASE WHEN {cand_sql(b)} THEN 1 ELSE 0 END) AS BIGINT) AS n_cand_{b}, "
        f"CAST(SUM(CASE WHEN is_true = 1 AND {cand_sql(b)} THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_hit_{b}"
        for b in _TUNE_BANDS
    )
    return f"""
    WITH sample AS (
        SELECT doc_id AS id, text FROM documents WHERE {bucket}
    ), base AS (
        SELECT id, {_grams_sql(_TOKS, _MH_SHINGLE)} AS g FROM sample
    ), sigged AS (
        SELECT id, g, {_sig_sql("g", _MH_HASHES)} AS sig FROM base
    ), pairs AS (
        SELECT a.id AS id_a, b.id AS id_b,
               a.g AS ga, b.g AS gb, a.sig AS sig_a, b.sig AS sig_b
        FROM sigged a JOIN sigged b ON a.id < b.id
    ), scored AS (
        SELECT sig_a, sig_b,
               CASE WHEN {_JACCARD} >= {_LSH_THRESH} THEN 1 ELSE 0 END AS is_true
        FROM pairs
    ), m AS (
        SELECT CAST(SUM(is_true) AS BIGINT) AS n_truth, {cand_aggs}
        FROM scored
    )
    {per_b}
    """


register("ext_lsh_tuning", q_ext_lsh_tuning, _lsh_tuning_oracle())


# ---------------------------------------------------------------------------
# Aligned-chunk exact substring dedup census (Lee et al. 2022, fixed-chunk
# restriction). The oracle rebuilds the identical chunking with DuckDB list
# slicing and replays the first-occurrence window.
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.dedup import chunk_dedup_stats

    docs = _t(spark, sf_dir, "documents")
    return chunk_dedup_stats(docs, "doc_id", "text", chunk_tokens=10)


register(
    "ext_chunk_dedup",
    q_chunk_dedup,
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    chunks AS (
        SELECT doc_id, (u).idx AS idx, (u).chunk AS chunk
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, CAST(ceil(len(t) / 10.0) AS BIGINT)),
                       i -> {{'idx': i,
                             'chunk': array_to_string(
                                 list_slice(t, i * 10 + 1, i * 10 + 10), ' ')}}))
                       AS u
            FROM toks WHERE len(t) > 0
        )
    ),
    marked AS (
        SELECT doc_id, idx,
               CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY md5(chunk) ORDER BY doc_id, idx) = 1
                    THEN 1 ELSE 0 END AS keep
        FROM chunks
    ),
    stats AS (
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_chunks,
               CAST(SUM(keep) AS INT) AS n_kept,
               CAST(COUNT(*) - SUM(keep) AS DOUBLE) / COUNT(*) AS dup_ratio
        FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_chunks, 0) AS n_chunks,
           COALESCE(s.n_kept, 0) AS n_kept,
           COALESCE(s.dup_ratio, 0.0) AS dup_ratio
    FROM documents d LEFT JOIN stats s USING (doc_id)
    """,
)


# ---------------------------------------------------------------------------
# Dedup survivorship: one canonical (highest-quality) doc per exact-dup
# fingerprint group. One hash shuffle on the 32-hex fingerprint; rank and
# group size share the window partitioning.
def q_ext_dup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        T.fingerprint_md5("text").alias("fingerprint"),
        T.quality_score("text", round_to=None).alias("quality"),
    )
    return D.dedup_survivors(
        docs, key_cols=["fingerprint"], quality_col="quality", id_col="doc_id"
    )


register(
    "ext_dup_survivorship",
    q_ext_dup_survivorship,
    f"""
    WITH {_quality_ctes()}, r AS (
        SELECT doc_id, fingerprint, quality,
               ROW_NUMBER() OVER (
                   PARTITION BY fingerprint ORDER BY quality DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY fingerprint) AS gs
        FROM q
    )
    SELECT doc_id, fingerprint, quality, CAST(gs AS BIGINT) AS group_size
    FROM r WHERE rn = 1
    """,
)


# ---------------------------------------------------------------------------
# Containment near-dup: C(A in B) = |A∩B| / |A| over 3-gram shingles,
# blocked by lang only (length bands would split exactly the short-in-long
# pairs containment exists to find). Inverted-index join — never ships
# shingle arrays.
def q_ext_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(
        docs, block_cols=["lang"], shingle_n=3, threshold=0.8
    )


register(
    "ext_containment",
    q_ext_containment,
    f"""
    WITH tok AS (
        SELECT doc_id, lang, {_TOKS} AS toks FROM documents
    ), sh AS (
        SELECT doc_id, lang, {_grams_sql("toks", 3)} AS g FROM tok
    ), pairs AS (
        SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) AS inter,
               len(a.g) AS sz_a, len(b.g) AS sz_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    )
    SELECT lang, id_a, id_b,
           inter / sz_a AS cont_a_in_b,
           inter / sz_b AS cont_b_in_a
    FROM pairs
    WHERE sz_a > 0 AND sz_b > 0
      AND greatest(inter / sz_a, inter / sz_b) >= 0.8
    """,
)


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al., 2023): IVF-cell-blocked cosine near-dup pairs
# over embeddings -> connected components -> min-id survivor per semantic
# cluster. The composition the paper runs on LAION: quadratic work confined
# to cells, CC propagation carries (node, label) only.
def q_ext_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import graph as G
    from be_analytic_etl_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    # Materialize the cell assignment once: the pair search self-joins it
    # and CC's symmetrize would otherwise re-derive the whole assign plan
    # on each side.
    cells = S.assign_cells(emb, n_cells=_IVF_CELLS).localCheckpoint(eager=False)
    pairs = S.cosine_pairs_above(
        cells, block_cols=["cell"], threshold=_SEM_THRESH, round_to=None
    )
    labels = G.connected_components(
        pairs,
        src="id_a",
        dst="id_b",
        nodes=emb.select(F.col("vec_id").alias("id")),
        id_col="id",
    )
    return labels.select(
        F.col("id").alias("vec_id"),
        "group_id",
        (F.col("id") == F.col("group_id")).alias("is_survivor"),
    )


def _semdedup_oracle() -> str:
    return f"""
    WITH RECURSIVE cent AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               embedding AS cv
        FROM embeddings
        WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS})
    ), assign AS (
        SELECT vec_id, embedding, cell FROM (
            SELECT e.vec_id, e.embedding, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_cos_sql("c.cv", "e.embedding")} DESC, c.cell) AS rn
            FROM embeddings e, cent c)
        WHERE rn = 1
    ), ed AS (
        SELECT a.vec_id AS s, b.vec_id AS d
        FROM assign a JOIN assign b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {_cos_sql("a.embedding", "b.embedding")} >= {_SEM_THRESH}
    ), sym AS (
        SELECT s, d FROM ed UNION SELECT d, s FROM ed
    ), reach(s, d) AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    )
    SELECT n.vec_id,
           LEAST(n.vec_id, COALESCE(MIN(r.d), n.vec_id)) AS group_id,
           (LEAST(n.vec_id, COALESCE(MIN(r.d), n.vec_id)) = n.vec_id) AS is_survivor
    FROM embeddings n LEFT JOIN reach r ON r.s = n.vec_id
    GROUP BY n.vec_id
    """


register("ext_semdedup", q_ext_semdedup, _semdedup_oracle())


# ---------------------------------------------------------------------------
# Product-quantization ANN: map-only encode (m=4 subspaces x 8 codes from
# literal centroids), per-query ADC lookup tables as column expressions,
# broadcast scan. The PQ math is value-checked bit-for-bit (seeded
# in-order folds on both sides).
_PQ_M = 4


_PQ_CODES = 8


def q_ext_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    return S.pq_ann(emb, _queries_df(emb), m=_PQ_M, n_codes=_PQ_CODES, k=_TOPK)


def _pq_ann_oracle() -> str:
    sub = 16  # 64-dim embeddings / m=4
    esl = f"list_slice(e.embedding, c.m * {sub} + 1, c.m * {sub} + {sub})"
    qsl = f"list_slice(q.qv, c.m * {sub} + 1, c.m * {sub} + {sub})"
    return f"""
    WITH cb AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
               embedding AS cv
        FROM embeddings
        WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_PQ_CODES})
    ), csub AS (
        SELECT s.m, cb.code,
               list_slice(cb.cv, s.m * {sub} + 1, s.m * {sub} + {sub}) AS cv
        FROM (SELECT unnest(range(0, {_PQ_M})) AS m) s CROSS JOIN cb
    ), codes AS (
        SELECT vec_id, m, code FROM (
            SELECT e.vec_id, c.m, c.code,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.m
                       ORDER BY (({_dot_sql("c.cv", "c.cv")})
                                 - 2.0 * ({_dot_sql(esl, "c.cv")})) ASC,
                                c.code) AS rn
            FROM embeddings e CROSS JOIN csub c)
        WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE {PROBE_WHERE_SQL}
    ), adc AS (
        SELECT q.query_id, c.m, c.code,
               ((({_dot_sql(qsl, qsl)}) - 2.0 * ({_dot_sql(qsl, "c.cv")}))
                + ({_dot_sql("c.cv", "c.cv")})) AS d2
        FROM q CROSS JOIN csub c
    ), scored AS (
        SELECT a.query_id, kk.vec_id AS neighbor_id,
               list_reduce([CAST(0.0 AS DOUBLE)] || list(a.d2 ORDER BY a.m),
                           (x, y) -> x + y) AS approx_dist
        FROM codes kk JOIN adc a ON kk.m = a.m AND kk.code = a.code
        WHERE kk.vec_id <> a.query_id
        GROUP BY a.query_id, kk.vec_id
    ), ranked AS (
        SELECT query_id, neighbor_id, approx_dist,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY approx_dist ASC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, approx_dist, rank FROM ranked
    WHERE rank <= {_TOPK}
    """


register("ext_pq_ann", q_ext_pq_ann, _pq_ann_oracle())


# ---------------------------------------------------------------------------
# IVF-PQ: the composition faiss ships as IndexIVFPQ — the PQ ADC scan
# restricted to each query's probed coarse cells. The plan's scan is a
# broadcast HASH join on cell (asserted in tests/test_plans.py), not the
# corpus-wide broadcast nested loop of standalone ext_pq_ann.

def q_ext_ivf_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_pq_ann(
        emb,
        _queries_df(emb),
        n_cells=_IVF_CELLS,
        n_probe=_IVF_PROBE,
        m=_PQ_M,
        n_codes=_PQ_CODES,
        k=_TOPK,
    )


def _ivf_pq_ann_oracle() -> str:
    sub = 16  # 64-dim embeddings / m=4
    esl = f"list_slice(e.embedding, c.m * {sub} + 1, c.m * {sub} + {sub})"
    qsl = f"list_slice(q.qv, c.m * {sub} + 1, c.m * {sub} + {sub})"
    return f"""
    WITH cent AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               embedding AS cv
        FROM embeddings
        WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS})
    ), assign AS (
        -- NULL embeddings excluded to mirror the operator's explicit
        -- isNotNull filter (see similarity.ivf_pq_ann)
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_cos_sql("c.cv", "e.embedding")} DESC, c.cell) AS rn
            FROM embeddings e, cent c
            WHERE e.embedding IS NOT NULL)
        WHERE rn = 1
    ), cb AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
               embedding AS cv
        FROM embeddings
        WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_PQ_CODES})
    ), csub AS (
        SELECT s.m, cb.code,
               list_slice(cb.cv, s.m * {sub} + 1, s.m * {sub} + {sub}) AS cv
        FROM (SELECT unnest(range(0, {_PQ_M})) AS m) s CROSS JOIN cb
    ), codes AS (
        SELECT vec_id, m, code FROM (
            SELECT e.vec_id, c.m, c.code,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.m
                       ORDER BY (({_dot_sql("c.cv", "c.cv")})
                                 - 2.0 * ({_dot_sql(esl, "c.cv")})) ASC,
                                c.code) AS rn
            FROM embeddings e CROSS JOIN csub c)
        WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE {PROBE_WHERE_SQL}
    ), probe AS (
        SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_cos_sql("c.cv", "q.qv")} DESC, c.cell) AS rn
            FROM q, cent c)
        WHERE rn <= {_IVF_PROBE}
    ), adc AS (
        SELECT q.query_id, c.m, c.code,
               ((({_dot_sql(qsl, qsl)}) - 2.0 * ({_dot_sql(qsl, "c.cv")}))
                + ({_dot_sql("c.cv", "c.cv")})) AS d2
        FROM q CROSS JOIN csub c
    ), cand AS (
        SELECT p.query_id, a.vec_id
        FROM probe p JOIN assign a ON p.cell = a.cell
        WHERE a.vec_id <> p.query_id
    ), scored AS (
        SELECT ca.query_id, ca.vec_id AS neighbor_id,
               list_reduce([CAST(0.0 AS DOUBLE)] || list(ad.d2 ORDER BY ad.m),
                           (x, y) -> x + y) AS approx_dist
        FROM cand ca
        JOIN codes kk ON kk.vec_id = ca.vec_id
        JOIN adc ad ON ad.query_id = ca.query_id
                   AND ad.m = kk.m AND ad.code = kk.code
        GROUP BY ca.query_id, ca.vec_id
    ), ranked AS (
        SELECT query_id, neighbor_id, approx_dist,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY approx_dist ASC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, approx_dist, rank FROM ranked
    WHERE rank <= {_TOPK}
    """


register("ext_ivf_pq_ann", q_ext_ivf_pq_ann, _ivf_pq_ann_oracle())


# ---------------------------------------------------------------------------
# Exact repeated-substring (window) dedup — Lee et al. ACL 2022 shape:
# per-doc ratio of 8-token spans (stride 4) whose hash repeats anywhere in
# the corpus.
_WIN_TOKENS = 8


_WIN_STRIDE = 4


def q_ext_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.window_dedup_stats(
        docs, window=_WIN_TOKENS, stride=_WIN_STRIDE
    )


register(
    "ext_window_dedup",
    q_ext_window_dedup,
    f"""
    WITH tok AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), spans AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, len(toks) - {_WIN_TOKENS} + 1, {_WIN_STRIDE}),
                   i -> CAST('0x' || substr(md5(array_to_string(
                            list_slice(toks, i + 1, i + {_WIN_TOKENS}), ' ')), 1, 15)
                        AS BIGINT))) AS h
        FROM tok WHERE len(toks) >= {_WIN_TOKENS}
    ), counts AS (
        SELECT h, COUNT(*) AS c FROM spans GROUP BY h
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           CAST(SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS dup_ratio
    FROM spans s JOIN counts c ON s.h = c.h
    GROUP BY s.doc_id
    """,
)


# ---------------------------------------------------------------------------
# Hard-negative mining (DPR / contrastive-training step, Karpukhin et al.
# EMNLP 2020): for each anchor, the highest-cosine neighbors whose label
# DIFFERS — the near-misses a contrastive loss learns most from. Pool =
# exact top-_HN_POOL neighbors (the brute-force baseline path; swap in
# ivf_ann at scale), then a label anti-filter and per-anchor re-rank.
# A pool dominated by same-label neighbors legitimately yields fewer
# than _HN_K negatives (bounded-pool mining, documented).
_HN_POOL = 20


_HN_K = 5


def q_ext_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(S.probe_filter()).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    pool = S.brute_force_topk(emb, q, k=_HN_POOL, round_to=None)
    alab = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("anchor_label")
    )
    nlab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("neg_label")
    )
    hard = (
        pool.join(alab, "query_id")
        .join(nlab, "neighbor_id")
        .filter(F.col("neg_label") != F.col("anchor_label"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        hard.withColumn("hard_rank", F.row_number().over(w))
        .filter(F.col("hard_rank") <= _HN_K)
        .select(
            "query_id",
            "anchor_label",
            F.col("neighbor_id").alias("neg_id"),
            "neg_label",
            "cos_sim",
            "hard_rank",
        )
    )


def _hard_negatives_oracle() -> str:
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE {PROBE_WHERE_SQL}
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               CASE WHEN sqrt({_dot_sql("q.qv", "q.qv")}) = 0
                         OR sqrt({_dot_sql("e.embedding", "e.embedding")}) = 0
                    THEN 0.0
                    ELSE {_dot_sql("q.qv", "e.embedding")}
                         / (sqrt({_dot_sql("q.qv", "q.qv")})
                            * sqrt({_dot_sql("e.embedding", "e.embedding")})) END
                   AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    ), pool AS (
        SELECT query_id, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored
        QUALIFY rank <= {_HN_POOL}
    ), hard AS (
        SELECT p.query_id, a.label AS anchor_label,
               p.neighbor_id AS neg_id, n.label AS neg_label, p.cos_sim
        FROM pool p
        JOIN embeddings a ON p.query_id = a.vec_id
        JOIN embeddings n ON p.neighbor_id = n.vec_id
        WHERE n.label <> a.label
    )
    SELECT query_id, anchor_label, neg_id, neg_label, cos_sim,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neg_id
           ) AS INTEGER) AS hard_rank
    FROM hard
    QUALIFY hard_rank <= {_HN_K}
    """


register("ext_hard_negatives", q_ext_hard_negatives, _hard_negatives_oracle())


# ---------------------------------------------------------------------------
# Matryoshka truncation recall (Kusupati et al., NeurIPS 2022): how well
# do the first 16 of 64 embedding dims preserve the full-dimension
# neighbor ranking? recall@k = |topk_full ∩ topk_trunc| / k per query —
# the eval that decides how far a deployment can truncate stored
# vectors. Both rankings are exact IEEE cosine folds; the overlap count
# and /k division are engine-identical.
_MRL_DIMS = 16


_MRL_K = 10


def q_ext_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q_full = emb.filter(S.probe_filter()).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    full = S.brute_force_topk(emb, q_full, k=_MRL_K, round_to=None).select(
        "query_id", "neighbor_id"
    )
    tr = F.slice(F.col("embedding"), 1, _MRL_DIMS)
    emb_t = emb.select("vec_id", tr.alias("embedding"))
    q_t = emb_t.filter(S.probe_filter()).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    trunc = S.brute_force_topk(emb_t, q_t, k=_MRL_K, round_to=None).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    # left join (not semi) + conditional sum: a query whose truncated
    # ranking shares NOTHING with the full one must still emit its
    # recall-0 row — that worst case is exactly what the eval surfaces.
    return (
        full.join(trunc, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_overlap")
        )
        .select(
            "query_id",
            "n_overlap",
            (F.col("n_overlap").cast("double") / _MRL_K).alias("recall_at_k"),
        )
    )


def _matryoshka_oracle() -> str:
    def ranked(vec: str, name: str) -> str:
        qv = f"q.qv" if vec == "full" else f"list_slice(q.qv, 1, {_MRL_DIMS})"
        ev = (
            "e.embedding"
            if vec == "full"
            else f"list_slice(e.embedding, 1, {_MRL_DIMS})"
        )
        return f"""{name} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   CASE WHEN sqrt({_dot_sql(qv, qv)}) = 0
                             OR sqrt({_dot_sql(ev, ev)}) = 0
                        THEN 0.0
                        ELSE {_dot_sql(qv, ev)}
                             / (sqrt({_dot_sql(qv, qv)})
                                * sqrt({_dot_sql(ev, ev)})) END AS cs
            FROM embeddings e, q
            WHERE e.vec_id <> q.query_id
        )
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cs DESC, neighbor_id) <= {_MRL_K}
    )"""

    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE {PROBE_WHERE_SQL}
    ), {ranked("full", "fullk")}, {ranked("trunc", "trunck")}
    SELECT f.query_id,
           CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / {_MRL_K} AS recall_at_k
    FROM fullk f LEFT JOIN trunck t
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
    GROUP BY f.query_id
    """


register(
    "ext_matryoshka_recall", q_ext_matryoshka_recall, _matryoshka_oracle()
)


# ---------------------------------------------------------------------------
# k-NN label agreement: for each probe vector, does the MAJORITY label
# among its k nearest neighbors match its own label? The classic
# embedding-quality probe (a cheap stand-in for linear-probe accuracy):
# high agreement = label-coherent neighborhoods. Majority ties break to
# the smaller label id — deterministic on both engines.
_KNN_K = 5


def q_ext_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    nn = S.brute_force_topk(emb, probes, k=_KNN_K, round_to=None)
    nlab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
    )
    votes = (
        nn.join(nlab, "neighbor_id")
        .groupBy("query_id", "nl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("nl")
    )
    majority = (
        votes.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("query_id", F.col("nl").alias("majority_label"), "votes")
    )
    own = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("own_label")
    )
    return majority.join(own, "query_id").select(
        "query_id",
        "own_label",
        "majority_label",
        F.col("votes").cast("long").alias("majority_votes"),
        (F.col("majority_label") == F.col("own_label")).alias("agree"),
    )


def _knn_agreement_oracle() -> str:
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv, label AS own_label
        FROM embeddings WHERE vec_id % 20 = 0
    ), scored AS (
        SELECT q.query_id, q.own_label, e.vec_id AS neighbor_id,
               e.label AS nl,
               CASE WHEN sqrt({_dot_sql("q.qv", "q.qv")}) = 0
                         OR sqrt({_dot_sql("e.embedding", "e.embedding")}) = 0
                    THEN 0.0
                    ELSE {_dot_sql("q.qv", "e.embedding")}
                         / (sqrt({_dot_sql("q.qv", "q.qv")})
                            * sqrt({_dot_sql("e.embedding", "e.embedding")})) END
                   AS cs
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    ), nn AS (
        SELECT query_id, own_label, nl FROM scored
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cs DESC, neighbor_id) <= {_KNN_K}
    ), votes AS (
        SELECT query_id, own_label, nl, COUNT(*) AS votes
        FROM nn GROUP BY query_id, own_label, nl
    )
    SELECT query_id, own_label, nl AS majority_label,
           CAST(votes AS BIGINT) AS majority_votes,
           (nl = own_label) AS agree
    FROM votes
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY votes DESC, nl) = 1
    """


register(
    "ext_knn_label_agreement",
    q_ext_knn_label_agreement,
    _knn_agreement_oracle(),
)


# ---------------------------------------------------------------------------
# Dedup ROI: how much token mass would exact dedup remove? Per exact-dup
# fingerprint group, everything beyond one copy is removable; the
# inflation factor total/deduped says how over-weighted duplicated text
# is in the raw mix. All exact integers except one final IEEE division.
def q_ext_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    per = (
        docs.select(
            T.fingerprint_md5("text").alias("fp"),
            T.token_count("text").cast("long").alias("nt"),
        )
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("copies"),
            F.sum("nt").alias("toks"),
            F.min("nt").alias("toks_one"),
        )
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_unique_docs"),
        F.sum("copies").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.sum("toks_one").cast("long").alias("deduped_tokens"),
        (F.sum("toks") - F.sum("toks_one")).cast("long").alias("removable_tokens"),
        (
            # class-8 NULL-safe divide (all-NULL text -> zero token mass)
            F.sum("toks").cast("double")
            / F.when(F.sum("toks_one") > 0, F.sum("toks_one").cast("double"))
        ).alias("inflation_factor"),
    )


register(
    "ext_dup_inflation",
    q_ext_dup_inflation,
    f"""
    WITH per AS (
        SELECT md5(regexp_replace(lower(trim(coalesce(text, ''))), '{T.WS_PLUS}', ' ', 'g')) AS fp,
               COUNT(*) AS copies,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS toks,
               CAST(MIN(len({_TOKS})) AS BIGINT) AS toks_one
        FROM documents GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_unique_docs,
           CAST(SUM(copies) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM(toks_one) AS BIGINT) AS deduped_tokens,
           CAST(SUM(toks) - SUM(toks_one) AS BIGINT) AS removable_tokens,
           CAST(SUM(toks) AS DOUBLE)
               / (CASE WHEN SUM(toks_one) > 0
                       THEN CAST(SUM(toks_one) AS DOUBLE) END)
               AS inflation_factor
    FROM per
    """,
)


# ---------------------------------------------------------------------------
# Paragraph-level corpus dedup + reassembly (Dolma/CCNet pass).

def q_ext_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.paragraph_dedup(_t(spark, sf_dir, "documents"))


register(
    "ext_paragraph_dedup",
    q_ext_paragraph_dedup,
    """
    WITH parts AS (
        SELECT doc_id, u.e.pos AS pos, u.e.part AS part,
               md5(u.e.part) AS part_md5
        FROM (SELECT doc_id,
                     string_split(coalesce(text, ''), '. ') AS toks
              FROM documents),
             unnest(list_apply(toks, (x, i) -> struct_pack(pos := i - 1, part := x))) u(e)
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY part_md5 ORDER BY doc_id, pos) AS rk
        FROM parts
    ), rebuilt AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(part, '. ' ORDER BY pos) AS rebuilt
        FROM ranked WHERE rk = 1 GROUP BY doc_id
    ), totals AS (
        SELECT doc_id, count(*) AS n_parts FROM parts GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_parts AS BIGINT) AS n_parts,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(coalesce(r.n_kept, 0) AS DOUBLE) / t.n_parts AS kept_ratio,
           md5(coalesce(r.rebuilt, '')) AS rebuilt_md5
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """,
)


# ---------------------------------------------------------------------------
# ext_decontaminate: the OPERATIONAL form of ext_contamination — ship the
# corpus minus every doc sharing an 8-gram with the benchmark subset
# (doc_id % 97 == 0 stands in for the eval suite), then report the cleaned
# corpus per language. The flag set is benchmark-sized, so the anti join
# broadcasts; the corpus is scanned once, map-only.


def q_ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    clean = D.decontaminate(docs, bench, ngram_n=8)
    return clean.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _decontaminate_oracle() -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), g AS (
        SELECT doc_id, unnest({_grams_sql("toks", 8)}) AS gm FROM tok
    ), gh AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(gm), 1, 15) AS BIGINT) AS h
        FROM g
    ), bh AS (
        SELECT doc_id AS bench_id, h FROM gh WHERE doc_id % 97 = 0
    ), contaminated AS (
        SELECT DISTINCT gh.doc_id
        FROM gh JOIN bh ON gh.h = bh.h AND gh.doc_id <> bh.bench_id
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    GROUP BY lang
    """


register("ext_decontaminate", q_ext_decontaminate, _decontaminate_oracle())


# ---------------------------------------------------------------------------
# Alignment-free exact-substring duplication coverage (operators/dedup
# .exact_substring_coverage): stride-1 12-token spans, global span
# counts via checkpoint -> groupBy -> join-back, per-doc covered-token
# union via LAG over (doc, start). See the operator docstring for the
# 100 TB shape argument.
_SUB_W = 12


# ext_substring_dedup: alignment-free exact-substring duplication coverage
# (Lee et al., ACL 2022 ExactSubstr), stride-1 spans — closes the gap
# between chunk dedup (disjoint) and the strided ``ext_window_dedup``
# (alignment-dependent).
def q_ext_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.dedup import exact_substring_coverage

    docs = _t(spark, sf_dir, "documents")
    return exact_substring_coverage(docs, "text", "doc_id", window=_SUB_W)


def _substring_dedup_oracle() -> str:
    from be_analytic_etl_spark.operators.dedup import (
        exact_substring_coverage_sql,
    )

    return exact_substring_coverage_sql(_TOKS, window=_SUB_W)


register("ext_substring_dedup", q_ext_substring_dedup, _substring_dedup_oracle())


# ---------------------------------------------------------------------------
# SimHash fingerprint + near-dup panel: portable 60-bit hash, 4-chunk
# pigeonhole, hamming <= 6.

_SIMHASH_MAXHAM = 6


_SIMHASH_MAXBUCKET = 1000


# ext_simhash_panel: one row per document: the verbatim 60-bit fingerprint
# plus the near-dup pair leg folded symmetrically onto each endpoint
# (partner count, closest hamming distance).
def q_ext_simhash_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_panel(
        _t(spark, sf_dir, "documents"),
        max_hamming=_SIMHASH_MAXHAM,
        portable=True,
        max_bucket=_SIMHASH_MAXBUCKET,
    )


register(
    "ext_simhash_panel",
    q_ext_simhash_panel,
    f"""
    WITH {_simhash_sql_body()}, chunks0 AS (
        SELECT doc_id, simhash, i AS chunk_id,
               (simhash >> (i * 15)) & 32767 AS chunk
        FROM sim, range(0, 4) r(i)
    ), kept AS (
        SELECT chunk_id, chunk FROM chunks0
        GROUP BY 1, 2 HAVING COUNT(*) <= {_SIMHASH_MAXBUCKET}
    ), chunks AS (
        SELECT chunks0.* FROM chunks0 JOIN kept USING (chunk_id, chunk)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM chunks a JOIN chunks b
          ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
         AND a.doc_id < b.doc_id
    ), pairs AS (
        SELECT id_a, id_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
        FROM cand
        WHERE bit_count(xor(sh_a, sh_b)) <= {_SIMHASH_MAXHAM}
    ), sym AS (
        SELECT id_a AS id, hamming FROM pairs
        UNION ALL
        SELECT id_b, hamming FROM pairs
    ), pd AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_partners,
               CAST(MIN(hamming) AS INTEGER) AS min_hamming
        FROM sym GROUP BY id
    )
    SELECT s.doc_id, s.simhash,
           CAST(COALESCE(pd.n_partners, 0) AS BIGINT) AS n_partners,
           pd.min_hamming
    FROM sim s LEFT JOIN pd ON s.doc_id = pd.id
    """,
)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection, 64 -> 8. The +-1 matrix is
# generated HOST-side (md5 parity, seed 'rp') and embedded as identical
# literals in both plans, like every engine-external constant.

_RP_K = 8


_RP_D = 64


_RP_SIGNS = [
    [
        1.0
        if int(
            hashlib.md5(f"rp|{i}|{j}".encode()).hexdigest()[:2], 16
        )
        % 2
        == 0
        else -1.0
        for i in range(_RP_D)
    ]
    for j in range(_RP_K)
]


# ext_random_projection: Johnson-Lindenstrauss sign random projection
# (Achlioptas, JCSS 2003) of the 64-d embeddings to k = 8 via a
# HOST-generated +-1 matrix embedded as identical literals in both
# engines; per-label projected centroid and the norm- preservation ratio
# E[|y|^2]/(k |v|^2) ~ 1 that makes JL usable as the cheap pre-ANN
# dimensionality reduction.
def q_ext_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # posexplode + decimal-quantized partial agg (the ext_embedding_stats
    # shape): per-dim products quantize at 9dp so the per-vector sums are
    # order-free and codegen-compiled — the higher-order-function fold
    # form ran interpreted and 6x slower at sf0.1 (13.3 s vs ~2 s).
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == _RP_D
    )
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("__pos", "__v"),
    )
    vd = F.col("__v").cast("double")

    def sgn(j: int) -> F.Column:
        # +-1 as INT: the signed term is then round9(v) * s — exact
        # decimal algebra, one rounding per row instead of one per
        # projection (round9(v)*s vs round9(v*s) differ only at exact
        # half-ulp ties, and the oracle mirrors this form verbatim).
        # q is DECIMAL(18,9), NOT wider: a (28,9) x INT product crosses
        # Spark's 38-precision cap and silently truncates the scale to
        # 8 (caught live by the sf0.001 hash; the class-7 narrowing
        # rule).
        arr = "array(" + ",".join(
            str(int(s)) for s in _RP_SIGNS[j]
        ) + ")"
        return F.expr(f"element_at({arr}, __pos + 1)")

    q9 = stable_round(vd, 9).cast("decimal(18,9)")
    quantized = ex.select(
        "vec_id",
        "label",
        q9.alias("__q"),
        stable_round(vd * vd, 9).cast("decimal(18,9)").alias("__qq"),
        "__pos",
    )
    per_vec = quantized.groupBy("vec_id", "label").agg(
        F.sum("__qq").alias("__v2"),
        *[
            F.sum(F.col("__q") * sgn(j)).alias(f"__y{j}")
            for j in range(_RP_K)
        ],
    )
    yd = [F.col(f"__y{j}").cast("double") for j in range(_RP_K)]
    y2 = yd[0] * yd[0]
    for j in range(1, _RP_K):
        y2 = y2 + yd[j] * yd[j]
    v2d = F.col("__v2").cast("double")
    ratio = y2 / (F.lit(float(_RP_K)) * F.when(v2d > 0, v2d))
    quant = per_vec.select(
        "label",
        stable_round(ratio, 12).cast("decimal(18,12)").alias("__r"),
        *[
            stable_round(yd[j], 6).cast("decimal(18,6)").alias(f"__q{j}")
            for j in range(_RP_K)
        ],
    )
    agg = quant.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("__r").alias("__rs"),
        *[F.sum(f"__q{j}").alias(f"__qs{j}") for j in range(_RP_K)],
    )
    nd = F.col("n_vecs").cast("double")
    return agg.select(
        "label",
        "n_vecs",
        stable_round(F.col("__rs").cast("double") / nd, 6).alias(
            "norm_ratio_mean"
        ),
        *[
            stable_round(F.col(f"__qs{j}").cast("double") / nd, 6).alias(
                f"y{j}_mean"
            )
            for j in range(_RP_K)
        ],
    )


def _random_projection_oracle() -> str:
    sgn_arrs = {
        j: "[" + ",".join(str(int(s)) for s in _RP_SIGNS[j]) + "]"
        for j in range(_RP_K)
    }
    ysums = ", ".join(
        f"SUM(q * ({sgn_arrs[j]}[pos + 1])) AS __y{j}"
        for j in range(_RP_K)
    )
    y2 = " + ".join(
        f"CAST(__y{j} AS DOUBLE) * CAST(__y{j} AS DOUBLE)"
        for j in range(_RP_K)
    )
    ratio = (
        f"(({y2}) / ({float(_RP_K)!r} * CAST(CASE WHEN"
        " CAST(__v2 AS DOUBLE) > 0 THEN CAST(__v2 AS DOUBLE) END"
        " AS DOUBLE)))"
    )
    qcols = ", ".join(
        f"CAST({stable_round_sql(f'CAST(__y{j} AS DOUBLE)', 6)}"
        f" AS DECIMAL(18,6)) AS __q{j}"
        for j in range(_RP_K)
    )
    qsums = ", ".join(f"SUM(__q{j}) AS __qs{j}" for j in range(_RP_K))
    ymeans = ", ".join(
        stable_round_sql(
            f"(CAST(__qs{j} AS DOUBLE) / CAST(n_vecs AS DOUBLE))", 6
        )
        + f" AS y{j}_mean"
        for j in range(_RP_K)
    )
    return f"""
    WITH ex0 AS (
        SELECT vec_id, label,
               CAST(u.u['p'] AS INTEGER) - 1 AS pos,
               CAST(u.u['x'] AS DOUBLE) AS v
        FROM (
            SELECT vec_id, label,
                   unnest(list_transform(range(1, len(embedding) + 1),
                          i -> {{'p': i, 'x': embedding[i]}})) AS u
            FROM embeddings WHERE len(embedding) = {_RP_D}
        ) u
    ), ex AS (
        SELECT vec_id, label, pos,
               CAST({stable_round_sql("v", 9)} AS DECIMAL(18,9)) AS q,
               CAST({stable_round_sql("(v * v)", 9)}
                    AS DECIMAL(18,9)) AS qq
        FROM ex0
    ), per_vec AS (
        SELECT vec_id, label,
               SUM(qq) AS __v2,
               {ysums}
        FROM ex GROUP BY 1, 2
    ), quant AS (
        SELECT label,
               CAST({stable_round_sql(ratio, 12)} AS DECIMAL(18,12)) AS __r,
               {qcols}
        FROM per_vec
    ), agg AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               SUM(__r) AS __rs, {qsums}
        FROM quant GROUP BY 1
    )
    SELECT label, n_vecs,
           {stable_round_sql(
               "(CAST(__rs AS DOUBLE) / CAST(n_vecs AS DOUBLE))", 6
           )} AS norm_ratio_mean,
           {ymeans}
    FROM agg
    """


register(
    "ext_random_projection",
    q_ext_random_projection,
    _random_projection_oracle(),
)


_ER_THRESHOLD = 3


_ER_MAX_BLOCK = 1000


# ext_entity_resolution: the full ER pipeline (multi-key blocking ->
# flood-capped candidate join -> thresholded-levenshtein verify ->
# transitive closure) the ``fuzzy_match`` query only previews —
# operators/entity.py, readout per resolved entity.
def q_ext_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.entity import resolve_entities

    vocab = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("id"))
        .select("id", F.col("p_name").alias("name"))
    )
    labeled = resolve_entities(
        vocab, threshold=_ER_THRESHOLD, max_block=_ER_MAX_BLOCK
    )
    return labeled.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_names"),
        F.min(
            F.when(F.col("id") == F.col("entity_id"), F.col("name"))
        ).alias("canonical_name"),
    )


def _entity_resolution_oracle() -> str:
    return f"""
    WITH RECURSIVE
    vocab AS (
        SELECT MIN(p_partkey) AS id, p_name AS name
        FROM part GROUP BY p_name
    ),
    tk AS (
        -- the ER flood guard (operators/entity.py MAX_NAME_LEN):
        -- oversized non-names never block, staying singleton entities
        SELECT id, name, length(name) AS ln,
               {_toks_sql('name')} AS toks
        FROM vocab
        WHERE length(name) <= {_ER_MAX_NAME_LEN}
    ),
    keyed AS (
        SELECT DISTINCT id, name, ln, md5(k) AS bk
        FROM (
            SELECT id, name, ln, toks[1] AS k FROM tk
            UNION ALL
            SELECT id, name, ln, toks[-1] AS k FROM tk
        ) u
        WHERE k IS NOT NULL
    ),
    kept AS (
        SELECT bk FROM keyed GROUP BY bk
        HAVING COUNT(*) <= {_ER_MAX_BLOCK}
    ),
    cand AS (
        SELECT DISTINCT a.id AS ia, a.name AS na, b.id AS ib, b.name AS nb
        FROM keyed a
        JOIN kept USING (bk)
        JOIN keyed b USING (bk)
        WHERE a.id < b.id AND abs(a.ln - b.ln) <= {_ER_THRESHOLD}
    ),
    matched AS (
        SELECT ia, ib FROM cand
        WHERE levenshtein(na, nb) <= {_ER_THRESHOLD}
    ),
    sym AS (SELECT ia AS s, ib AS d FROM matched
            UNION SELECT ib, ia FROM matched),
    reach(s, d) AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    ),
    lab AS (
        SELECT v.id, v.name,
               LEAST(v.id, COALESCE(MIN(r.d), v.id)) AS entity_id
        FROM vocab v LEFT JOIN reach r ON r.s = v.id
        GROUP BY v.id, v.name
    )
    SELECT entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_names,
           MIN(CASE WHEN id = entity_id THEN name END) AS canonical_name
    FROM lab GROUP BY entity_id
    """


register(
    "ext_entity_resolution",
    q_ext_entity_resolution,
    _entity_resolution_oracle(),
)
