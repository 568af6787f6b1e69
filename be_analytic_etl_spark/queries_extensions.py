"""Scale-extension queries: dedup, similarity search, text analysis.

These go beyond the reference surface (SURVEY.md §7.2 step 7) — the
operations a large-scale training-data pipeline needs. Each entry pairs the
Spark operator (operators/dedup.py, operators/similarity.py,
operators/textstats.py) with a DuckDB oracle twin where the semantics are
SQL-expressible.

Cross-engine determinism strategy:
- all ratios/similarities are exact integer divisions or identical IEEE
  op sequences (sequential left folds) -> bit-identical doubles, compared
  UNROUNDED (rounding has half-way tie hazards between engines);
- hashing uses ``portable_hash64`` (md5-hex -> bigint) which both engines
  compute identically; the scale path keeps xxhash64 and is registered as
  a rows-only check (driver's weaker gate) where used.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators import dedup as D
from be_analytic_etl_spark.operators import similarity as S
from be_analytic_etl_spark.operators.similarity import PROBE_WHERE_SQL
from be_analytic_etl_spark.operators import textstats as T
from be_analytic_etl_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from be_analytic_etl_spark.sources import load_table

    # documents/embeddings feed per-row compute-heavy ops (shingling, k
    # hashes, vector math); spread an under-partitioned scan across cores.
    return load_table(spark, sf_dir, name, spread=name in ("documents", "embeddings"))


# --- shared DuckDB SQL fragments -------------------------------------------

def _toks_sql(c: str) -> str:
    r"""tokenize() twin over the SQL expression ``c``: whitespace split of
    the trimmed text; blank -> empty list. Whitespace is the explicit
    WS_PLUS class, not \s — RE2's \s omits vertical tab while Java's
    includes it."""
    t = f"trim(coalesce({c}, ''))"
    return (
        f"CASE WHEN {t} = '' THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex({t}, '{T.WS_PLUS}') END"
    )


#: tokenize() twin over the documents' ``text`` column.
_TOKS = _toks_sql("text")


def _grams_sql(toks: str, n: int = 3) -> str:
    """word_ngrams() twin over a token-list expression."""
    return (
        f"list_distinct(CASE WHEN len({toks}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(range(0, greatest(len({toks}) - {n}, 0) + 1), "
        f"i -> array_to_string(list_slice({toks}, i + 1, i + {n}), ' ')) END)"
    )


def _pbase_sql(val: str) -> str:
    """portable_base_hash() twin: md5 hex head as 60-bit BIGINT mod p."""
    from be_analytic_etl_spark.operators.dedup import PORTABLE_P

    return f"(CAST('0x' || substr(md5({val}), 1, 15) AS BIGINT) % {PORTABLE_P})"


def _sig_sql(grams: str, num_hashes: int) -> str:
    """minhash_signature(portable=True) twin: per-shingle base hash, k
    affine transforms mod p, min per slot."""
    from be_analytic_etl_spark.operators.dedup import PORTABLE_P, portable_affine_params

    slots = []
    for a, b in portable_affine_params(num_hashes):
        slots.append(
            f"list_min(list_transform(bases, h -> (h * {a} + {b}) % {PORTABLE_P}))"
        )
    return (
        f"(SELECT [{', '.join(slots)}] FROM "
        f"(SELECT list_transform({grams}, x -> {_pbase_sql('x')}) AS bases))"
    )


def _dot_sql(a: str, b: str) -> str:
    """similarity.dot() twin: sequential left fold of elementwise double
    products (0.0-seeded fold == fold from first element, exactly)."""
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, x) -> acc + x)"
    )


def _cos_sql(a: str, b: str) -> str:
    """similarity.cosine() twin: zero-norm guard, then dot / (|a| * |b|)."""
    return (
        f"CASE WHEN sqrt({_dot_sql(a, a)}) = 0 OR sqrt({_dot_sql(b, b)}) = 0 "
        f"THEN 0.0 ELSE {_dot_sql(a, b)} "
        f"/ (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})) END"
    )


_JACCARD = (
    "CASE WHEN len(list_distinct(list_cat(ga, gb))) = 0 THEN 0.0 "
    "ELSE CAST(len(list_intersect(ga, gb)) AS DOUBLE) "
    "/ len(list_distinct(list_cat(ga, gb))) END"
)


# ---------------------------------------------------------------------------
# Text analysis: token/char counts, punctuation & stopword ratios, quality
# score, md5 fingerprint — one narrow JVM-side pass (operators/textstats.py).
def q_ext_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.char_count("text").alias("n_chars_meas"),
        T.punct_ratio("text").alias("punct_ratio"),
        T.stopword_ratio("text").alias("stopword_ratio"),
        T.quality_score("text", round_to=None).alias("quality"),
        T.fingerprint_md5("text").alias("fingerprint"),
    )


_STOP_SQL = "['the','a','an','of','and','or','to','in','is','it']"

register(
    "ext_token_stats",
    q_ext_token_stats,
    f"""
    WITH tok AS (
        SELECT doc_id, coalesce(text, '') AS t, {_TOKS} AS toks FROM documents
    ), m AS (
        SELECT doc_id, t, toks,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(length(t) AS INTEGER) AS n_chars_meas,
               length(t) - length(regexp_replace(t, '[.,;:!?]', '', 'g')) AS n_punct,
               len(list_filter(toks, x -> list_contains({_STOP_SQL}, lower(x)))) AS n_stop
        FROM tok
    ), r AS (
        SELECT doc_id, n_tokens, n_chars_meas,
               CASE WHEN n_chars_meas = 0 THEN 0.0
                    ELSE CAST(n_punct AS DOUBLE) / n_chars_meas END AS punct_ratio,
               CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stopword_ratio,
               md5(regexp_replace(lower(trim(t)), '{T.WS_PLUS}', ' ', 'g')) AS fingerprint
        FROM m
    )
    SELECT doc_id, n_tokens, n_chars_meas, punct_ratio, stopword_ratio,
           least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
             * greatest(0.0, 1.0 - punct_ratio * 5.0)
             * (CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
               AS quality,
           fingerprint
    FROM r
    """,
)


# ---------------------------------------------------------------------------
# BPE-ish sub-word token count (regex pre-tokenizer shape) + order-sensitive
# polynomial rolling fingerprint over the token stream — both portable
# expressions, value-checked.
def q_ext_bpe_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.bpe_ish_token_count("text").alias("bpe_tokens"),
        T.rolling_fingerprint("text").alias("roll_fp"),
    )


register(
    "ext_bpe_fingerprint",
    q_ext_bpe_fingerprint,
    f"""
    WITH tok AS (
        SELECT doc_id, coalesce(text, '') AS t, {_TOKS} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{T.BPE_ISH_PATTERN}')) AS INTEGER)
               AS bpe_tokens,
           list_reduce(
               [CAST(0 AS BIGINT)] || list_transform(toks, x -> {_pbase_sql('x')}),
               (acc, h) -> (acc * {T.ROLL_B} + h) % {T.PORTABLE_P}) AS roll_fp
    FROM tok
    """,
)


# ---------------------------------------------------------------------------
# Language-ID: marker-token argmax (deterministic tie-break by language code).
def q_ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scores = T.lang_scores("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        *[scores[lang].alias(f"s_{lang}") for lang in sorted(scores)],
        T.lang_id("text").alias("lang_pred"),
    )


def _lang_id_oracle() -> str:
    score_cols = []
    for lang in sorted(T.LANG_MARKERS):
        markers = ",".join(f"'{m}'" for m in T.LANG_MARKERS[lang])
        score_cols.append(
            f"CAST(len(list_filter(toks, x -> list_contains([{markers}], lower(x)))) AS INTEGER) AS s_{lang}"
        )
    langs = sorted(T.LANG_MARKERS)
    mx = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    chain = "CASE WHEN " + mx + " = 0 THEN 'und' "
    for lang in langs:
        chain += f"WHEN s_{lang} = {mx} THEN '{lang}' "
    chain += "ELSE 'und' END"
    return f"""
    WITH tok AS (
        SELECT doc_id, lang AS lang_true, {_TOKS} AS toks FROM documents
    ), scored AS (
        SELECT doc_id, lang_true, {", ".join(score_cols)} FROM tok
    )
    SELECT doc_id, lang_true, {", ".join(f"s_{lang}" for lang in langs)},
           {chain} AS lang_pred
    FROM scored
    """


register("ext_lang_id", q_ext_lang_id, _lang_id_oracle())


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


# ---------------------------------------------------------------------------
# MinHash signatures (portable hash), exploded to (doc_id, seed, minhash)
# rows so the value-hash covers every signature slot.
_MH_HASHES = 8
_MH_SHINGLE = 3


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


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup pairs, fully oracle-checked: portable signatures,
# band buckets (oracle buckets on the raw band string — same partition as
# Spark's 64-bit band hash modulo ~2^-64 collisions), skew guard, exact
# Jaccard verification. Spark plan: shuffles carry only (id, signature),
# never documents; quadratic work confined to buckets (operators/dedup.py).
_LSH_BANDS = 4
_LSH_ROWS = _MH_HASHES // _LSH_BANDS
_LSH_THRESH = 0.6
_LSH_MAXBUCKET = 100


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
# P11/P12/P17 string-surface parity: trailing-zero strip + empty->null on
# deterministically constructed messy strings.
def q_ext_strip_zeros(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.functions import empty_to_null, strip_trailing_zeros

    li = _t(spark, sf_dir, "lineitem")
    raw = F.when(
        F.col("l_linenumber") % 7 == 0, F.lit("")
    ).otherwise(
        F.concat(
            (F.col("l_partkey") % 100).cast("string"),
            F.lit("."),
            F.lpad((F.col("l_suppkey") % 100).cast("string"), 2, "0"),
            F.repeat(F.lit("0"), (F.col("l_linenumber") % 3).cast("int")),
        )
    )
    return (
        li.select("l_orderkey", "l_linenumber", raw.alias("raw"))
        .withColumn("stripped", strip_trailing_zeros("raw"))
        .withColumn("nulled", empty_to_null("stripped"))
    )


register(
    "ext_strip_zeros",
    q_ext_strip_zeros,
    r"""
    WITH base AS (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_linenumber % 7 = 0 THEN ''
                    ELSE CAST(l_partkey % 100 AS VARCHAR) || '.'
                         || lpad(CAST(l_suppkey % 100 AS VARCHAR), 2, '0')
                         || repeat('0', l_linenumber % 3) END AS raw
        FROM lineitem
    ), s AS (
        SELECT l_orderkey, l_linenumber, raw,
               CASE WHEN regexp_matches(raw, '^[0-9]+\.[0-9]+$')
                    THEN regexp_replace(
                             regexp_replace(raw, '^([0-9]+)\.0+$', '\1'),
                             '^([0-9]+\.[0-9]*?)0+$', '\1')
                    ELSE raw END AS stripped
        FROM base
    )
    SELECT l_orderkey, l_linenumber, raw, stripped,
           CASE WHEN trim(stripped) = '' THEN NULL ELSE stripped END AS nulled
    FROM s
    """,
)


# ---------------------------------------------------------------------------
# Multimodal: binary payload columns + typed metadata. Metadata (length,
# content hash) is JVM-side and oracle-checked — the payload here is utf-8
# text bytes, so DuckDB's sha256(VARCHAR) hashes the same bytes Spark's
# sha2(BINARY, 256) does. Feature extraction (Arrow mapInPandas, stubbed
# decode) is not SQL-expressible -> rows-only.
def q_ext_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    items = M.synthesize_binary_items(docs, payload_repeat=8)
    return M.attach_binary_metadata(items).select(
        "item_id", "modality", "n_bytes", "sha256"
    )


register(
    "ext_multimodal_meta",
    q_ext_multimodal_meta,
    """
    SELECT doc_id AS item_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS modality,
           CAST(octet_length(CAST(repeat(text, 8) AS BLOB)) AS INTEGER) AS n_bytes,
           sha256(repeat(text, 8)) AS sha256
    FROM documents
    """,
)


# The featurize path (Arrow mapInPandas) runs the PORTABLE kernel here —
# md5-derived components both engines compute bit-identically (double IEEE
# ops + the same double->float32 rounding), so feature VALUES, not just
# dims, are oracle-checked. Output posexplodes the feature array so the
# value-hash covers every component.
_MMF_DIM = 8


def q_ext_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    items = M.synthesize_binary_items(docs, payload_repeat=8)
    feats = M.featurize_binary(items, dim=_MMF_DIM, kernel="portable")
    return feats.select(
        "item_id",
        "modality",
        "n_bytes",
        F.posexplode("feature").alias("j", "fval"),
    ).withColumn("fval", F.col("fval").cast("double"))


register(
    "ext_multimodal_features",
    q_ext_multimodal_features,
    f"""
    WITH items AS (
        SELECT doc_id AS item_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS modality,
               repeat(text, 8) AS payload
        FROM documents
    )
    SELECT item_id, modality,
           CAST(octet_length(CAST(payload AS BLOB)) AS INTEGER) AS n_bytes,
           CAST(j AS INTEGER) AS j,
           CAST(CAST(
               CAST('0x' || substr(md5(md5(payload) || '|' || CAST(j AS VARCHAR)), 1, 15)
                    AS BIGINT) / 576460752303423488.0 - 1.0
               AS FLOAT) AS DOUBLE) AS fval
    FROM items, range(0, {_MMF_DIM}) r(j)
    """,
)


# ---------------------------------------------------------------------------
# PII-ish redaction: emails + long digit runs -> placeholder tokens, with a
# span-count audit column. One narrow regexp pass (patterns restricted to
# Java-regex/RE2-identical constructs). PII is synthesized deterministically
# onto each document so the redaction is exercised on every row.
_EMAIL_PAT = T.REDACT_PATTERNS[0][0]
_NUM_PAT = T.REDACT_PATTERNS[1][0]


def q_ext_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    salted = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 7, "0"),
    )
    return docs.select(
        "doc_id",
        T.redact_pii(salted).alias("redacted"),
        T.redaction_count(salted).alias("n_redactions"),
    )


register(
    "ext_redact",
    q_ext_redact,
    f"""
    WITH s AS (
        SELECT doc_id,
               coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com or call 555'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0') AS t
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(t, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                          '{_NUM_PAT}', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(t, '{_EMAIL_PAT}'))
                + len(regexp_extract_all(
                      regexp_replace(t, '{_EMAIL_PAT}', '', 'g'), '{_NUM_PAT}'))
               AS INTEGER) AS n_redactions
    FROM s
    """,
)


# ---------------------------------------------------------------------------
# Vocabulary top-k: token frequency + document frequency, top 50 by count.
# Scale: partial agg absorbs hot stopword keys before the token shuffle;
# top-k plans as TakeOrderedAndProject; the rank window runs over k rows.
_VOCAB_K = 50


def q_ext_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokenize("text")).alias("token"))
    agg = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    top = agg.orderBy(F.col("tf").desc(), "token").limit(_VOCAB_K)
    w = Window.orderBy(F.col("tf").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w))


register(
    "ext_vocab_topk",
    q_ext_vocab_topk,
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ), agg AS (
        SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM tok GROUP BY token
    ), r AS (
        SELECT token, tf, df,
               CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS INTEGER) AS rank
        FROM agg
    )
    SELECT token, tf, df, rank FROM r WHERE rank <= {_VOCAB_K}
    """,
)


# ---------------------------------------------------------------------------
# TF-IDF scoring (rational idf (N - df + 0.5)/(df + 0.5), BM25-style —
# pure divisions, so cross-engine bit-identical; ln()-based idf is libm-
# dependent and NOT safely comparable). Scale: one shuffle for (doc, token)
# counts, one for doc-frequency; the df table is |vocab|-sized — broadcast
# it when the vocabulary fits (it usually does after min-frequency cuts).
def q_ext_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_docs = float(docs.count())
    tok = docs.select("doc_id", F.explode(T.tokenize("text")).alias("token"))
    dt = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfr = tok.dropDuplicates(["doc_id", "token"]).groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    dfd = F.col("df").cast("double")
    score = F.col("tf").cast("double") * (
        (F.lit(n_docs) - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
    )
    return (
        dt.join(F.broadcast(dfr), "token")
        .filter(F.col("tf") >= 2)
        .select("doc_id", "token", "tf", "df", score.alias("score"))
    )


register(
    "ext_tfidf",
    q_ext_tfidf,
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ), dt AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), dfr AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT doc_id, token, tf, df,
           CAST(tf AS DOUBLE) * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                                 / (CAST(df AS DOUBLE) + 0.5)) AS score
    FROM dt JOIN dfr USING (token), n
    WHERE tf >= 2
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
# Deterministic hash sampling + train/val/test split — the map-only,
# engine/run/shard-stable assignment a training pipeline needs (rand()
# sampling moves rows between splits on task retry; a key hash never does).
def q_ext_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import sampling as SP

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        SP.hash_bucket("doc_id", salt="split").alias("bucket"),
        SP.assign_split("doc_id").alias("split"),
        (SP.hash_bucket("doc_id", salt="sample") < 1000).alias("in_10pct_sample"),
    )


def _bucket_sql(salt: str) -> str:
    return (
        f"(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|{salt}'), 1, 15) "
        f"AS BIGINT) % 10000)"
    )


register(
    "ext_hash_split",
    q_ext_hash_split,
    f"""
    SELECT doc_id,
           {_bucket_sql("split")} AS bucket,
           CASE WHEN {_bucket_sql("split")} < 9000 THEN 'train'
                WHEN {_bucket_sql("split")} < 9500 THEN 'val'
                ELSE 'test' END AS split,
           {_bucket_sql("sample")} < 1000 AS in_10pct_sample
    FROM documents
    """,
)


# First event per user: the winner per key is min(ts, event_id), with
# event_id breaking ties on ts so the pick is deterministic.
def q_ext_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )


register(
    "ext_first_per_key",
    q_ext_first_per_key,
    """
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events)
    WHERE rn = 1
    """,
)


# ---------------------------------------------------------------------------
# Dedup groups: connected components over a near-dup pair graph
# (operators/graph.py — hash-to-min label propagation, ICDE 2013). The edge
# fixture is two overlapping star partitions of `documents` — stars share
# members across the two keyings, so components span multiple hops and the
# oracle's recursive-CTE transitive closure checks real propagation, not
# just single-star membership. Isolated nodes keep their own id.
def q_ext_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from be_analytic_etl_spark.operators import graph as G

    docs = _t(spark, sf_dir, "documents")
    w1 = Window.partitionBy("lang", F.pmod(F.col("n_chars"), F.lit(7)))
    w2 = Window.partitionBy("source", F.pmod(F.col("n_chars"), F.lit(5)))
    edges = docs.select(
        F.min("doc_id").over(w1).alias("id_a"), F.col("doc_id").alias("id_b")
    ).unionByName(
        docs.select(F.min("doc_id").over(w2).alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    comps = G.connected_components(
        edges, nodes=docs.select(F.col("doc_id").alias("id"))
    )
    return comps.select(F.col("id").alias("doc_id"), "group_id")


register(
    "ext_dedup_groups",
    q_ext_dedup_groups,
    """
    WITH RECURSIVE
    e1 AS (SELECT MIN(doc_id) OVER (PARTITION BY lang, n_chars % 7) AS s,
                  doc_id AS d FROM documents),
    e2 AS (SELECT MIN(doc_id) OVER (PARTITION BY source, n_chars % 5) AS s,
                  doc_id AS d FROM documents),
    ed AS (SELECT s, d
           FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2) u
           WHERE s <> d),
    sym AS (SELECT s, d FROM ed UNION SELECT d, s FROM ed),
    reach(s, d) AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    )
    SELECT n.doc_id,
           LEAST(n.doc_id, COALESCE(MIN(r.d), n.doc_id)) AS group_id
    FROM documents n LEFT JOIN reach r ON r.s = n.doc_id
    GROUP BY n.doc_id
    """,
)


# ---------------------------------------------------------------------------
# As-of join (operators/asof.py): latest purchase at-or-before each click,
# per user — union + ordered-window carry, one shuffle, no range explosion.
# Right side pre-aggregated to one row per (user_id, ts) so both engines
# are deterministic (DuckDB ASOF JOIN has the same uniqueness contract).
def q_ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("p_value"))
    )
    return asof_join(clicks, purchases, on=["user_id"], right_cols=["p_value"])


register(
    "ext_asof_join",
    q_ext_asof_join,
    """
    WITH clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
        FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS p_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    )
    SELECT c.user_id, c.ts, c.event_id, c.value,
           p.ts AS ts_r, p.p_value AS p_value_r
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)


# ---------------------------------------------------------------------------
# Gap-fill (operators/timeseries.py): daily per-user 'view' value series
# densified onto a per-user day spine, silent days forward-filled and
# flagged. sequence+explode spine, (key, day) join, ignorenulls-last fill.
def q_ext_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.timeseries import gapfill

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.sum("value").alias("daily_value"))
    )
    return gapfill(daily, ["user_id"], "day", ["daily_value"], step="1 day")


register(
    "ext_gapfill",
    q_ext_gapfill,
    """
    WITH daily AS (
        SELECT user_id,
               date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
               SUM(value) AS daily_value
        FROM events WHERE event_type = 'view'
        GROUP BY 1, 2
    ),
    bounds AS (
        SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM daily GROUP BY 1
    ),
    spine AS (
        SELECT user_id, UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
        FROM bounds
    )
    SELECT s.user_id, s.day,
           LAST_VALUE(d.daily_value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS daily_value,
           d.daily_value IS NOT NULL AS is_observed
    FROM spine s LEFT JOIN daily d USING (user_id, day)
    """,
)


# ---------------------------------------------------------------------------
# Salted skew join (operators/skew.py): lineitem->orders with the fact side
# salted across (key, salt) tasks, then re-aggregated. The join output is
# invariant to salting, so the oracle is the plain join — which is exactly
# the point: same semantics, straggler-free physical shape.
def q_ext_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice", "l_quantity"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    joined = salted_join(li, orders, on=["o_orderkey"], salt_n=8)
    return joined.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").alias("sum_qty"),
    )


register(
    "ext_salted_join",
    q_ext_salted_join,
    """
    SELECT o.o_orderpriority, o.o_orderstatus,
           COUNT(*) AS n_items,
           SUM(l.l_quantity) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority, o.o_orderstatus
    """,
)


# ---------------------------------------------------------------------------
# MERGE upsert (operators/merge.py): customer corrections — every 10th key
# gets a new acctbal (including a NULL case: update values win wholesale,
# no per-column COALESCE), every 37th is deleted, and a shifted key range
# is inserted. One full-outer shuffle on the key.
def q_ext_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.merge import merge_upsert

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    mods = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.upper("c_name").alias("c_name"),
        F.when(F.col("c_custkey") % 20 == 0, F.col("c_acctbal") + 100.0).alias(
            "c_acctbal"
        ),
        F.lit("CORRECTED").alias("c_mktsegment"),
        (F.col("c_custkey") % 37 == 0).alias("is_deleted"),
    )
    inserts = cust.filter(F.col("c_custkey") % 100 == 3).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NEW_"), "c_name").alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("FRESH").alias("c_mktsegment"),
        F.lit(False).alias("is_deleted"),
    )
    return merge_upsert(
        cust, mods.unionByName(inserts), keys=["c_custkey"], delete_col="is_deleted"
    )


register(
    "ext_merge_upsert",
    q_ext_merge_upsert,
    """
    WITH mods AS (
        SELECT c_custkey,
               upper(c_name) AS c_name,
               CASE WHEN c_custkey % 20 = 0 THEN c_acctbal + 100.0 END AS c_acctbal,
               'CORRECTED' AS c_mktsegment,
               c_custkey % 37 = 0 AS is_deleted
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW_' || c_name, 0.0, 'FRESH', FALSE
        FROM customer WHERE c_custkey % 100 = 3
    )
    SELECT COALESCE(m.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN m.c_custkey IS NOT NULL THEN m.c_name ELSE c.c_name END AS c_name,
           CASE WHEN m.c_custkey IS NOT NULL THEN m.c_acctbal ELSE c.c_acctbal END AS c_acctbal,
           CASE WHEN m.c_custkey IS NOT NULL THEN m.c_mktsegment ELSE c.c_mktsegment END AS c_mktsegment
    FROM customer c FULL OUTER JOIN mods m ON c.c_custkey = m.c_custkey
    WHERE NOT COALESCE(m.is_deleted, FALSE)
    """,
)


# ---------------------------------------------------------------------------
# SCD type-2 history (operators/merge.py): order rows as customer-state
# versions — valid_from/valid_to intervals + current flag via lead() per
# key. Deduped to one version per (custkey, day) for determinism.
def q_ext_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.merge import scd2_history

    orders = _t(spark, sf_dir, "orders")
    versions = orders.groupBy(
        "o_custkey", F.col("o_orderdate").alias("valid_from")
    ).agg(F.max("o_totalprice").alias("state_price"))
    return scd2_history(versions, keys=["o_custkey"], valid_from="valid_from")


register(
    "ext_scd2",
    q_ext_scd2,
    """
    WITH versions AS (
        SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS valid_from,
               MAX(o_totalprice) AS state_price
        FROM orders GROUP BY 1, 2
    )
    SELECT o_custkey, valid_from, state_price,
           LEAD(valid_from) OVER w AS valid_to,
           LEAD(valid_from) OVER w IS NULL AS is_current
    FROM versions
    WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from)
    """,
)


# ---------------------------------------------------------------------------
# Range join (operators/rangejoin.py): clicks attributed to 2-hour error
# windows per user via bucketized interval join (equi-join on
# (user_id, hour-bucket) + exact residual — no nested loop; plan-asserted
# in tests/test_plans.py). Aggregated to clicks-per-window.
def q_ext_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    windows = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    joined = range_join(
        clicks, windows, "ts", "w_start", "w_end", keys=["user_id"],
        bucket_width_seconds=3600,
    )
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.min("click_id").alias("first_click_id"),
    )


register(
    "ext_range_join",
    q_ext_range_join,
    """
    WITH clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS click_id
        FROM events WHERE event_type = 'click'
    ),
    win AS (
        SELECT user_id, event_id AS window_id,
               CAST(ts AS TIMESTAMP) AS w_start,
               CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR AS w_end
        FROM events WHERE event_type = 'error'
    )
    SELECT w.window_id, COUNT(*) AS n_clicks, MIN(c.click_id) AS first_click_id
    FROM clicks c JOIN win w
      ON c.user_id = w.user_id AND c.ts >= w.w_start AND c.ts < w.w_end
    GROUP BY w.window_id
    """,
)


# ---------------------------------------------------------------------------
# Weighted sampling (operators/sampling.py): Efraimidis–Spirakis u^(1/w)
# top-k per language, weight = n_chars — longer docs proportionally more
# likely, yet fully deterministic (portable md5 u) so the DuckDB twin
# draws the identical sample.
def q_ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sampling import weighted_sample_topk

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample_topk(
        docs.select("doc_id", "lang", "n_chars"),
        key_col="doc_id",
        weight_col="n_chars",
        k=10,
        strata=["lang"],
    )


register(
    "ext_weighted_sample",
    q_ext_weighted_sample,
    """
    WITH t AS (
        SELECT doc_id, lang, n_chars,
               POW((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|wsample'), 1, 15)
                         AS BIGINT) + 1) / 1152921504606846977.0,
                   1.0 / CAST(n_chars AS DOUBLE)) AS es
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY es DESC, doc_id) AS rn
        FROM t
    ) WHERE rn <= 10
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
# Count-min heavy hitters (operators/sketches.py): per-user event-count
# estimates from a 4x64 sketch, joined to exact counts — the overcount
# (collision) error is visible, and every counter is reproduced exactly by
# the generated DuckDB twin.
def q_ext_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sketches import countmin_estimates

    ev = _t(spark, sf_dir, "events")
    sketch = countmin_estimates(ev, "user_id", d=4, w=64)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return sketch.join(exact, "user_id")


def _countmin_oracle() -> str:
    from be_analytic_etl_spark.operators.sketches import countmin_sql_twin

    twin = countmin_sql_twin("events", "user_id", d=4, w=64)
    return f"""
    WITH sketch AS ({twin}),
    exact AS (SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id)
    SELECT e.user_id, s.cms_estimate, e.exact_count
    FROM sketch s JOIN exact e ON s.v = e.user_id
    """


register("ext_countmin", q_ext_countmin, _countmin_oracle())


# ---------------------------------------------------------------------------
# Column profiling (operators/profiling.py): ANALYZE-TABLE stats for the
# lineitem fact in one aggregation job, long format.
def q_ext_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.profiling import profile

    li = _t(spark, sf_dir, "lineitem")
    return profile(
        li, ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]
    )


def _profile_branch(c: str, numeric: bool) -> str:
    mn = f"CAST(MIN({c}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
    mx = f"CAST(MAX({c}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
    return (
        f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows, "
        # CAST: DuckDB SUM(int) is HUGEINT (float64 in pandas); Spark's is
        # BIGINT and the driver's value-hash distinguishes them.
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, "
        f"COUNT(DISTINCT {c}) AS n_distinct, {mn} AS min_value, {mx} AS max_value "
        f"FROM lineitem"
    )


register(
    "ext_profile",
    q_ext_profile,
    " UNION ALL ".join(
        _profile_branch(c, num)
        for c, num in [
            ("l_orderkey", True),
            ("l_quantity", True),
            ("l_extendedprice", True),
            ("l_returnflag", False),
            ("l_shipdate", False),
        ]
    ),
)


# ---------------------------------------------------------------------------
# Z-order layout key (operators/profiling.py): Morton interleave of
# (orderkey, partkey) low bits — the Delta/Iceberg Z-ORDER clustering key
# as a deterministic expression; aggregated into key-range buckets so the
# oracle result is compact while every key value still feeds the hash.
def q_ext_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.profiling import zorder_key

    li = _t(spark, sf_dir, "lineitem")
    zk = zorder_key("l_orderkey", "l_partkey", bits=16)
    return (
        li.select(zk.alias("zkey"))
        .groupBy((F.col("zkey") % 97).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("zkey").alias("zsum"),
            F.min("zkey").alias("zmin"),
            F.max("zkey").alias("zmax"),
        )
    )


def _zorder_oracle() -> str:
    from be_analytic_etl_spark.operators.profiling import zorder_sql

    z = zorder_sql("l_orderkey", "l_partkey", bits=16)
    return f"""
    WITH z AS (SELECT {z} AS zkey FROM lineitem)
    SELECT zkey % 97 AS zbucket, COUNT(*) AS n,
           -- CAST: DuckDB SUM(BIGINT) is HUGEINT; Spark's is BIGINT.
           CAST(SUM(zkey) AS BIGINT) AS zsum,
           MIN(zkey) AS zmin, MAX(zkey) AS zmax
    FROM z GROUP BY 1
    """


register("ext_zorder", q_ext_zorder, _zorder_oracle())


# ---------------------------------------------------------------------------
# THE END-TO-END TRAINING-DATA PIPELINE: what the whole extension suite
# exists for, composed as one lazy plan —
#   quality gate (length + token floor)
#   -> exact dedup (md5 keep-min)
#   -> MinHash-LSH near-dup pairs (portable)
#   -> connected components -> one representative per dup group
#   -> deterministic train/val/test split
# and value-checked END TO END by a single DuckDB oracle (the LSH CTE
# chain feeding a recursive-CTE transitive closure). The chain is built by
# the pipeline composer (queries_textprep.q_ext_pipeline_spec, registered
# as ext_pipeline_e2e). Every stage shuffles only ids/hashes, never
# documents; stages fuse into ~4 shuffle boundaries under AQE.
_PIPE_MIN_CHARS = 40
_PIPE_MIN_TOKENS = 5


#: the end-to-end curation-chain oracle (LSH CTE chain feeding a
#: recursive-CTE transitive closure) of ext_pipeline_e2e.
PIPELINE_ORACLE_SQL = (
    f"""
    WITH RECURSIVE
    base AS (
        SELECT doc_id, text, lang, len({_TOKS}) AS n_tokens
        FROM documents
        WHERE n_chars >= {_PIPE_MIN_CHARS} AND len({_TOKS}) >= {_PIPE_MIN_TOKENS}
    ),
    keepmin AS (SELECT MIN(doc_id) AS doc_id FROM base GROUP BY md5(text)),
    ex AS (SELECT b.* FROM base b JOIN keepmin k USING (doc_id)),
    tok AS (SELECT doc_id, {_TOKS} AS toks FROM ex),
    sh AS (SELECT doc_id, {_grams_sql("toks", _MH_SHINGLE)} AS g FROM tok),
    sig AS (SELECT doc_id, g, {_sig_sql("g", _MH_HASHES)} AS sig FROM sh),
    banded AS (
        SELECT doc_id, g, b AS band,
               array_to_string(list_slice(sig, b * {_LSH_ROWS} + 1,
                                          b * {_LSH_ROWS} + {_LSH_ROWS}), ',') AS bucket
        FROM sig, range(0, {_LSH_BANDS}) r(b)
    ),
    kept AS (
        SELECT band, bucket FROM banded
        GROUP BY band, bucket HAVING COUNT(*) <= {_LSH_MAXBUCKET}
    ),
    keep AS (SELECT banded.* FROM banded JOIN kept USING (band, bucket)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM keep a JOIN keep b USING (band, bucket)
        WHERE a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT id_a, id_b, a.g AS ga, b.g AS gb
        FROM cand JOIN sh a ON cand.id_a = a.doc_id JOIN sh b ON cand.id_b = b.doc_id
    ),
    pairs AS (
        SELECT id_a, id_b FROM verified WHERE {_JACCARD} >= {_LSH_THRESH}
    ),
    sym AS (SELECT id_a AS s, id_b AS d FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(s, d) AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    ),
    comp AS (
        SELECT e.doc_id, LEAST(e.doc_id, COALESCE(MIN(r.d), e.doc_id)) AS gid
        FROM ex e LEFT JOIN reach r ON r.s = e.doc_id
        GROUP BY e.doc_id
    )
    SELECT e.doc_id, e.lang, e.n_tokens,
           CASE WHEN {_bucket_sql("split")} < 9000 THEN 'train'
                WHEN {_bucket_sql("split")} < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM ex e JOIN comp c USING (doc_id)
    WHERE c.gid = e.doc_id
    """
)


# ---------------------------------------------------------------------------
# Bloom-pruned join (operators/bloom.py): lineitem probed against the
# urgent-order subset — the map-side bit-set filter drops most fact rows
# before the join shuffle; the result is provably identical to the plain
# join, which is exactly what the oracle checks.
def q_ext_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.bloom import bloom_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
    )
    return (
        bloom_join(li, urgent, on=["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


register(
    "ext_bloom_join",
    q_ext_bloom_join,
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_items, SUM(l.l_quantity) AS sum_qty
    FROM lineitem l
    JOIN (SELECT o_orderkey, o_orderpriority FROM orders
          WHERE o_orderpriority = '1-URGENT') o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# PageRank (operators/graph.py): 3 fixed iterations over a deterministic
# 500-node directed graph derived from lineitem (orderkey%500 ->
# partkey%500) — an iterative link-analysis algorithm value-checked
# bit-for-bit via quantized-exact arithmetic (generated SQL twin).
def q_ext_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 500).alias("src"),
        (F.col("l_partkey") % 500).alias("dst"),
    )
    return pagerank(edges, iters=3)


def _pagerank_oracle() -> str:
    from be_analytic_etl_spark.operators.graph import pagerank_sql_twin

    return pagerank_sql_twin(
        "SELECT l_orderkey % 500 AS s, l_partkey % 500 AS d FROM lineitem",
        iters=3,
    )


register("ext_pagerank", q_ext_pagerank, _pagerank_oracle())


# ---------------------------------------------------------------------------
# Intra-document repetition metrics — the Gopher/MassiveText repetition
# filters (duplicate-token fraction, modal-bigram fraction). Map-side array
# stats + ONE (doc, gram) shuffle with map-side combine; no Python.
def q_ext_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.repetition_stats(docs, ngram_n=2)


register(
    "ext_repetition",
    q_ext_repetition,
    f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), doc AS (
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens
        FROM t
    ), g AS (
        SELECT doc_id,
               unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                           ELSE list_transform(range(0, len(toks) - 1),
                                               i -> toks[i + 1] || ' ' || toks[i + 2])
                      END) AS gram
        FROM t
    ), cnt AS (
        SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram
    ), pd AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
               CAST(MAX(c) AS BIGINT) AS top_gram_cnt
        FROM cnt GROUP BY doc_id
    )
    SELECT doc.doc_id, n_tokens, n_distinct_tokens,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE CAST(1 AS DOUBLE)
                     - CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           END AS dup_token_frac,
           COALESCE(n_grams, 0) AS n_grams,
           COALESCE(top_gram_cnt, 0) AS top_gram_cnt,
           CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0
                ELSE CAST(top_gram_cnt AS DOUBLE) / CAST(n_grams AS DOUBLE)
           END AS top_gram_frac
    FROM doc LEFT JOIN pd ON doc.doc_id = pd.doc_id
    """,
)


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
# Token-budget shard packing: hash-scatter docs into parallel packing
# streams, running-total the token counts, shard = floor(start/budget) —
# the "write ~N-token training shards" step, deterministic across
# runs/retries/engines (sampling.pack_shards).
_PACK_BUDGET = 512
_PACK_BUCKETS = 8


def q_ext_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sampling import pack_shards

    docs = _t(spark, sf_dir, "documents")
    sized = docs.select("doc_id", T.token_count("text").alias("n_tokens"))
    return pack_shards(
        sized, token_budget=_PACK_BUDGET, n_buckets=_PACK_BUCKETS
    )


register(
    "ext_pack_shards",
    q_ext_pack_shards,
    f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pack'), 1, 15)
                    AS BIGINT) AS h
        FROM documents
    ), w AS (
        SELECT doc_id, h % {_PACK_BUCKETS} AS bucket, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY h % {_PACK_BUCKETS} ORDER BY h, doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
        FROM t
    )
    SELECT doc_id, bucket,
           CAST(floor(start / {_PACK_BUDGET}) AS INTEGER) AS shard,
           n_tokens
    FROM w
    """,
)


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate: corpus top-V vocabulary (TakeOrdered — never a
# global-window sort), broadcast to a per-token membership probe, per-doc
# OOV fraction. The tokenizer-coverage health check run before committing
# to a vocab. Scale: token agg is partial-combined; the vocab is V rows
# (broadcast); docs with no tokens report rate 0.
_OOV_V = 100


def q_ext_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokenize("text")).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), "token")
        .limit(_OOV_V)
        .select("token", F.lit(1).alias("__in"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    n_tok = F.coalesce(F.col("n_tokens"), F.lit(0))
    n_oov = F.coalesce(F.col("n_oov"), F.lit(0))
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_oov.alias("n_oov"),
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise(n_oov.cast("double") / n_tok.cast("double"))
        .alias("oov_rate"),
    )


register(
    "ext_oov_rate",
    q_ext_oov_rate,
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ), v AS (
        SELECT token FROM (
            SELECT token, COUNT(*) AS tf,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
            FROM tok GROUP BY token)
        WHERE rn <= {_OOV_V}
    ), pd AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov
        FROM tok LEFT JOIN v ON tok.token = v.token
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(n_tokens, 0) AS n_tokens,
           COALESCE(n_oov, 0) AS n_oov,
           CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0.0
                ELSE CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS oov_rate
    FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
    """,
)


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split: near-dup CLUSTERS (connected
# components over the dedup pair graph) are the split unit, so no two
# near-duplicates ever land in different splits — the standard guard
# against eval contamination via shared boilerplate. Split = key-hash of
# the cluster representative (map-only once groups exist); same CC pass
# as ext_dedup_groups.
def q_ext_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from be_analytic_etl_spark.operators import graph as G
    from be_analytic_etl_spark.operators.sampling import assign_split

    docs = _t(spark, sf_dir, "documents")
    w1 = Window.partitionBy("lang", F.pmod(F.col("n_chars"), F.lit(7)))
    w2 = Window.partitionBy("source", F.pmod(F.col("n_chars"), F.lit(5)))
    edges = docs.select(
        F.min("doc_id").over(w1).alias("id_a"), F.col("doc_id").alias("id_b")
    ).unionByName(
        docs.select(F.min("doc_id").over(w2).alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    comps = G.connected_components(
        edges, nodes=docs.select(F.col("doc_id").alias("id"))
    )
    return comps.select(
        F.col("id").alias("doc_id"),
        "group_id",
        assign_split("group_id", salt="leakfree").alias("split"),
    )


register(
    "ext_leakage_safe_split",
    q_ext_leakage_safe_split,
    """
    WITH RECURSIVE
    e1 AS (SELECT MIN(doc_id) OVER (PARTITION BY lang, n_chars % 7) AS s,
                  doc_id AS d FROM documents),
    e2 AS (SELECT MIN(doc_id) OVER (PARTITION BY source, n_chars % 5) AS s,
                  doc_id AS d FROM documents),
    ed AS (SELECT s, d
           FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2) u
           WHERE s <> d),
    sym AS (SELECT s, d FROM ed UNION SELECT d, s FROM ed),
    reach(s, d) AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    ),
    comps AS (
        SELECT n.doc_id,
               LEAST(n.doc_id, COALESCE(MIN(r.d), n.doc_id)) AS group_id
        FROM documents n LEFT JOIN reach r ON r.s = n.doc_id
        GROUP BY n.doc_id
    )
    SELECT doc_id, group_id,
           CASE WHEN (CAST('0x' || substr(md5(CAST(group_id AS VARCHAR)
                                              || '|leakfree'), 1, 15)
                           AS BIGINT) % 10000) < 9000 THEN 'train'
                WHEN (CAST('0x' || substr(md5(CAST(group_id AS VARCHAR)
                                              || '|leakfree'), 1, 15)
                           AS BIGINT) % 10000) < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM comps
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
# Corpus frequency spectrum (count-of-counts) — the Good-Turing / Kneser-Ney
# smoothing input (N_1, N_2, ... type counts) and the standard vocabulary
# health diagnostic (singleton fraction = crawl noise; excess high-freq mass
# = boilerplate). Token count: one (token)-keyed shuffle with map-side
# partial agg; the spectrum rollup shuffles only (count, n_types) pairs —
# a distinct-counts-sized frame, tiny at any corpus size by Zipf.
def q_ext_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import token_frequency_spectrum

    return token_frequency_spectrum(_t(spark, sf_dir, "documents"))


register(
    "ext_freq_spectrum",
    q_ext_freq_spectrum,
    f"""
    WITH t AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    c AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok)
    SELECT c AS freq, COUNT(*) AS n_types,
           CAST(c * COUNT(*) AS BIGINT) AS token_mass
    FROM c GROUP BY c
    """,
)


# ---------------------------------------------------------------------------
# Histogram-quantile sketch (operators/profiling.py): per-event-type
# p50/p90/p99 from a 64-bin fixed histogram — the mergeable, no-global-sort
# alternative to exact percentile(); every arithmetic step (bin function,
# ceil-rank rule, lower-edge estimate) is replayed identically by the SQL
# twin, so unlike t-digest/GK internals the sketch is value-checkable.
_HQ_BINS = 64
_HQ_QS = (0.5, 0.9, 0.99)


def q_ext_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.profiling import histogram_quantiles

    ev = _t(spark, sf_dir, "events")
    return histogram_quantiles(
        ev, "value", group_cols=["event_type"], bins=_HQ_BINS, quantiles=_HQ_QS
    )


def _hq_oracle() -> str:
    per_q = []
    for q in _HQ_QS:
        per_q.append(
            f"""
    SELECT event_type, CAST({q} AS DOUBLE) AS q,
           CASE WHEN mx = mn THEN mn
                ELSE mn + qbin * (mx - mn) / {_HQ_BINS} END AS quantile_est,
           n
    FROM (
        SELECT event_type, mn, mx, n, MIN(bin) AS qbin
        FROM cum WHERE cumc >= CEIL({q} * n)
        GROUP BY event_type, mn, mx, n)
    """
        )
    union = " UNION ALL ".join(per_q)
    return f"""
    WITH stats AS (
        SELECT event_type, MIN(CAST(value AS DOUBLE)) AS mn,
               MAX(CAST(value AS DOUBLE)) AS mx, COUNT(value) AS n
        FROM events GROUP BY event_type
    ), binned AS (
        SELECT e.event_type, s.mn, s.mx, s.n,
               CASE WHEN s.mx = s.mn THEN 0
                    ELSE LEAST({_HQ_BINS - 1},
                         CAST(FLOOR(((CAST(e.value AS DOUBLE) - s.mn)
                                     / (s.mx - s.mn)) * {_HQ_BINS}) AS INTEGER))
               END AS bin
        -- IS NOT DISTINCT FROM: a NULL group key is a real group
        FROM events e JOIN stats s
          ON e.event_type IS NOT DISTINCT FROM s.event_type
        WHERE e.value IS NOT NULL
    ), counts AS (
        SELECT event_type, mn, mx, n, bin, COUNT(*) AS bc
        FROM binned GROUP BY event_type, mn, mx, n, bin
    ), cum AS (
        SELECT event_type, mn, mx, n, bin,
               SUM(bc) OVER (PARTITION BY event_type ORDER BY bin) AS cumc
        FROM counts
    )
    {union}
    """


register("ext_histogram_quantiles", q_ext_histogram_quantiles, _hq_oracle())


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
# Join-key skew profile (operators/profiling.py): heavy-hitter census +
# straggler multiplier for a prospective shuffle key — the number that
# decides between plain hash join, AQE skew split, and an explicit salted
# join. One partial-agg'd shuffle on the key; top-k is TakeOrdered over
# the per-key count frame, stats reduce to one broadcast row.
def q_ext_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.profiling import key_skew_profile

    return key_skew_profile(_t(spark, sf_dir, "lineitem"), "l_suppkey", top_k=10)


register(
    "ext_skew_profile",
    q_ext_skew_profile,
    """
    WITH counts AS (
        SELECT l_suppkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1
    ), stats AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
               COUNT(*) AS n_keys, MAX(cnt) AS max_cnt
        FROM counts
    )
    SELECT key, cnt,
           CAST(cnt AS DOUBLE) / total_rows AS share,
           total_rows, n_keys,
           CAST(max_cnt AS DOUBLE)
               / (CAST(total_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))
               AS skew_factor
    FROM (SELECT * FROM counts ORDER BY cnt DESC, key LIMIT 10) t, stats
    """,
)


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
# Add-k-smoothed bigram LM statistics (operators/textstats.py): the
# boilerplate/template-spam detector — near-1 conditional probabilities
# mark navigation chrome and licenses. Count shuffles are vocabulary-
# sized after partial aggregation; top-n is TakeOrdered.
_LM_K = 0.5
_LM_TOPN = 100


def q_ext_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import bigram_lm_stats

    return bigram_lm_stats(
        _t(spark, sf_dir, "documents"), k=_LM_K, top_n=_LM_TOPN
    )


register(
    "ext_bigram_lm",
    q_ext_bigram_lm,
    f"""
    WITH toks AS (
        SELECT {_TOKS} AS t FROM documents WHERE len({_TOKS}) >= 2
    ), bg AS (
        SELECT p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT unnest(list_transform(range(1, len(t)),
                          i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
            FROM toks)
    ), big AS (
        SELECT w1, w2, COUNT(*) AS c_bigram FROM bg GROUP BY w1, w2
    ), uni AS (
        SELECT tok AS w1, COUNT(*) AS c_unigram
        FROM (SELECT unnest({_TOKS}) AS tok FROM documents) GROUP BY tok
    ), v AS (SELECT COUNT(*) AS vocab FROM uni)
    SELECT w1, w2, c_bigram, c_unigram,
           (c_bigram + {_LM_K}) / (c_unigram + {_LM_K} * vocab) AS p_smoothed
    FROM (
        SELECT big.w1, big.w2, c_bigram, c_unigram
        FROM big JOIN uni ON big.w1 = uni.w1
        ORDER BY c_bigram DESC, big.w1, big.w2 LIMIT {_LM_TOPN}
    ) t, v
    """,
)


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
