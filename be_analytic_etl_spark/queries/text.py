"""Text-curation queries over the documents table: tokens and
vocabulary, quality scores and gates (C4, Gopher), language ID,
normalization, sentence splitting, PII, packing and chunking, mixtures
and sampling, dataset manifests, multimodal payload frames, and the
composer-driven end-to-end curation chain (``ext_pipeline_e2e``).

Cross-engine determinism: regexes stay in the Java-regex/RE2
intersection; hashing is the portable md5 head both engines compute
identically; dirty input is synthesized from the clean text by
byte-identical expressions on both sides, so a transform is exercised
rather than run over already-clean data; exact integer math comes
before any float division, and libm terms pass stable_round before any
sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.rounding import (
    exact_dec_double_sql,
    stable_round,
    stable_round_sql,
)
from be_analytic_etl_spark.operators import curation as C
from be_analytic_etl_spark.operators import normalize as N
from be_analytic_etl_spark.operators import similarity as S
from be_analytic_etl_spark.operators import sampling as SA
from be_analytic_etl_spark.operators import textstats as T
from be_analytic_etl_spark.operators import versioning as V
from be_analytic_etl_spark.operators.sampling import stratified_sample_exact
from be_analytic_etl_spark.operators.textstats import (
    portable_base_hash,
    PORTABLE_P,
    tokenize,
    WS_CHARS,
    WS_PLUS,
)
from be_analytic_etl_spark.operators.urls import canonical_url_sql
from be_analytic_etl_spark.queries._shared import (
    _bucket_sql,
    _dot_sql,
    _grams_sql,
    _JACCARD,
    _LSH_BANDS,
    _LSH_MAXBUCKET,
    _LSH_ROWS,
    _LSH_THRESH,
    _MH_HASHES,
    _MH_SHINGLE,
    _pbase_sql,
    _QSCORE_SQL,
    _quality_ctes,
    _sig_sql,
    _STOP_SQL,
    _t,
    _TOKS,
    qscore_feature_ctes,
)
from be_analytic_etl_spark.registry import register


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
# THE END-TO-END TRAINING-DATA PIPELINE: what the whole extension suite
# exists for, composed as one lazy plan —
#   quality gate (length + token floor)
#   -> exact dedup (md5 keep-min)
#   -> MinHash-LSH near-dup pairs (portable)
#   -> connected components -> one representative per dup group
#   -> deterministic train/val/test split
# and value-checked END TO END by a single DuckDB oracle (the LSH CTE
# chain feeding a recursive-CTE transitive closure). The chain is built by
# the pipeline composer (q_ext_pipeline_spec, registered
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
# Exact-count stratified sample: ceil(20%) of documents per language,
# chosen by portable key-hash rank (stable across runs/retries/engines).
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return stratified_sample_exact(
        docs, strata=["lang"], fraction=0.2, key_col="doc_id"
    ).select("doc_id", "lang", "source")


register(
    "ext_stratified_sample",
    q_stratified_sample,
    """
    SELECT doc_id, lang, source
    FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                 || '|strat'), 1, 15) AS BIGINT), doc_id
               ) AS rk,
               CAST(ceil(0.2 * COUNT(*) OVER (PARTITION BY lang)) AS BIGINT)
                   AS quota
        FROM documents
    )
    WHERE rk <= quota
    """,
)


# ---------------------------------------------------------------------------
# Top-20 bigrams over the corpus: tokenize -> adjacent pairs -> count ->
# deterministic top-k (count DESC, bigram ASC — total order, so LIMIT is
# hash-stable). Scale: bigram generation is map-side; ONE shuffle for the
# count (partial agg collapses duplicates per partition first); top-k is a
# TakeOrdered, never a global sort.
def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn("__toks", tokenize("text"))
    bigrams = docs.select(
        F.explode(
            F.when(
                F.size("__toks") >= 2,
                F.expr(
                    "transform(sequence(0, size(__toks) - 2), "
                    "i -> concat(__toks[i], ' ', __toks[i + 1]))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


register(
    "ext_bigram_topk",
    q_bigram_topk,
    f"""
    WITH toks AS (SELECT {_TOKS} AS t FROM documents),
    bigrams AS (
        SELECT unnest(list_transform(range(0, greatest(len(t) - 1, 0)),
                                     i -> t[i + 1] || ' ' || t[i + 2]))
               AS bigram
        FROM toks
    )
    SELECT bigram, COUNT(*) AS n
    FROM bigrams
    GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
)


# ---------------------------------------------------------------------------
# URL canonicalization (crawl-dedup preprocessing). The synthetic corpus
# has no URL column, so one is synthesized deterministically from
# (doc_id, lang, source) — mixed-case scheme/host, default port, utm_*
# tracking params, unsorted query, fragment — then canonicalized and
# grouped per host. Map-only until the per-host count's single shuffle.
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.urls import canonical_url

    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTPS://WWW.Example-"),
        F.col("source"),
        F.lit(".COM:443/Docs/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&ref="),
        F.col("lang"),
        F.lit("&id="),
        F.col("doc_id").cast("string"),
        F.lit("&utm_campaign=x#frag-"),
        F.col("source"),
    )
    urls = docs.select(F.col("doc_id"), raw.alias("url"))
    canon = urls.select("doc_id", canonical_url("url").alias("url_canon"))
    host = F.regexp_extract("url_canon", r"^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)
    return canon.groupBy(host.alias("host")).agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.min("url_canon").alias("sample_url"),
    )


_RAW_URL_SQL = (
    "'HTTPS://WWW.Example-' || source || '.COM:443/Docs/' || lang || '/' "
    "|| CAST(doc_id AS VARCHAR) || '/?utm_source=feed&ref=' || lang "
    "|| '&id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x#frag-' || source"
)


register(
    "ext_url_normalize",
    q_url_normalize,
    f"""
    WITH canon AS (
        SELECT doc_id, {canonical_url_sql(_RAW_URL_SQL)} AS url_canon
        FROM documents
    )
    SELECT regexp_extract(url_canon, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1)
               AS host,
           COUNT(*) AS n_urls,
           MIN(url_canon) AS sample_url
    FROM canon
    GROUP BY host
    """,
)


# ---------------------------------------------------------------------------
# Corpus health report: one grouped pass composing token stats, quality
# scoring, and language-ID agreement per labeled language — the dashboard
# query a corpus curator runs after every pipeline stage. Determinism:
# token sums are BIGINT; mean quality quantizes each row to 6dp DECIMAL
# before summing (doubles summed raw would be merge-order-dependent);
# agreement share is an exact integer division.
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import textstats as T

    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        T.token_count("text").alias("__nt"),
        stable_round(T.quality_score("text", round_to=None), 6)
        .cast("decimal(18,6)")
        .alias("__q6"),
        (T.lang_id("text") == F.col("lang")).cast("int").alias("__match"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").cast("long").alias("sum_tokens"),
        (F.sum("__nt").cast("double") / F.count(F.lit(1))).alias("mean_tokens"),
        (F.sum("__match").cast("double") / F.count(F.lit(1))).alias(
            "langid_agreement"
        ),
        (F.sum("__q6").cast("double") / F.count(F.lit(1))).alias("mean_quality"),
    )


def _corpus_report_oracle() -> str:
    from be_analytic_etl_spark.operators import textstats as T

    langs = sorted(T.LANG_MARKERS)
    score_cols = []
    for lang in langs:
        markers = ",".join(f"'{m}'" for m in T.LANG_MARKERS[lang])
        score_cols.append(
            f"len(list_filter(toks, x -> list_contains([{markers}], lower(x)))) AS s_{lang}"
        )
    mx = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    chain = "CASE WHEN " + mx + " = 0 THEN 'und' "
    for lang in langs:
        chain += f"WHEN s_{lang} = {mx} THEN '{lang}' "
    chain += "ELSE 'und' END"
    return f"""
    WITH {qscore_feature_ctes("lang", ", toks, " + ", ".join(score_cols))}, r AS (
        SELECT lang, n_tokens,
               CASE WHEN {chain} = lang THEN 1 ELSE 0 END AS is_match,
               CAST({stable_round_sql(_QSCORE_SQL, 6)} AS DECIMAL(18,6)) AS q6
        FROM m
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS mean_tokens,
           CAST(SUM(is_match) AS DOUBLE) / COUNT(*) AS langid_agreement,
           CAST(SUM(q6) AS DOUBLE) / COUNT(*) AS mean_quality
    FROM r
    GROUP BY lang
    """


register("ext_corpus_report", q_corpus_report, _corpus_report_oracle())


# ---------------------------------------------------------------------------
# Mixture sampling: downsample each language toward a target training-mix
# proportion under a 50%-of-corpus char budget. The plan is a 5-row
# broadcast; the fact side is one partial-agg pass + a map-only filter.
_MIX_WEIGHTS = {"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}


_MIX_BUDGET = 0.5


def q_ext_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    kept = SA.mixture_sample(
        docs,
        group_col="lang",
        weights=_MIX_WEIGHTS,
        cost_col="n_chars",
        budget_fraction=_MIX_BUDGET,
        key_col="doc_id",
        salt="mix",
    )
    return kept.groupBy("lang", "target_frac", "threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_chars").cast("long").alias("chars_kept"),
    )


def _mixture_oracle() -> str:
    # CAST every weight: a bare DuckDB 0.5 literal is DECIMAL(1,1) and the
    # whole plan would run in decimal arithmetic, not Spark's double.
    w_case = "CASE lang " + " ".join(
        f"WHEN '{k}' THEN CAST({v} AS DOUBLE)" for k, v in _MIX_WEIGHTS.items()
    ) + " ELSE CAST(0.0 AS DOUBLE) END"
    return f"""
    WITH per AS (
        SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS group_cost FROM documents GROUP BY lang
    ), tot AS (
        SELECT CAST(SUM(n_chars) AS BIGINT) AS total_cost FROM documents
    ), plan AS (
        SELECT lang, group_cost,
               least(1.0, ((CAST({_MIX_BUDGET} AS DOUBLE) * total_cost) * ({w_case})) / group_cost)
                   AS target_frac
        FROM per, tot
    ), plan2 AS (
        SELECT lang, target_frac,
               CAST(floor(target_frac * {SA.SPLIT_BUCKETS}) AS BIGINT) AS threshold
        FROM plan
    )
    SELECT d.lang AS lang, p.target_frac AS target_frac, p.threshold AS threshold,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
    FROM documents d JOIN plan2 p ON d.lang = p.lang
    WHERE {_bucket_sql('mix', key='d.doc_id')} < p.threshold
    GROUP BY d.lang, p.target_frac, p.threshold
    """


register("ext_mixture_sample", q_ext_mixture_sample, _mixture_oracle())


# ---------------------------------------------------------------------------
# Curriculum quality bins: map-only fixed-width binning (floor(q*10), top
# bin closed) — unlike NTILE, needs no global sort, so it scales as a
# plain 10-group partial agg.
def q_ext_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    q = T.quality_score("text", round_to=None)
    b = F.least(F.lit(9).cast("long"), F.floor(q * 10)).cast("int")
    return (
        docs.select(b.alias("q_bin"), q.alias("__q"), "n_chars")
        .groupBy("q_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            # AVG over doubles sums in partition order — emit rounded
            # (engine ulp noise, same class as ext_lm_score; stable_round
            # because ROUND primitives disagree on half-ties).
            stable_round(F.avg("__q"), 6).alias("avg_quality"),
        )
    )


register(
    "ext_quality_bins",
    q_ext_quality_bins,
    f"""
    WITH {_quality_ctes()}, binned AS (
        SELECT d.doc_id, d.n_chars, q.quality,
               CAST(least(9, floor(q.quality * 10)) AS INTEGER) AS q_bin
        FROM documents d JOIN q ON d.doc_id = q.doc_id
    )
    SELECT q_bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {stable_round_sql("AVG(quality)", 6)} AS avg_quality
    FROM binned GROUP BY q_bin
    """,
)


# ---------------------------------------------------------------------------
# Bigram-LM document scoring: mean log P(w2|w1) + perplexity per doc under
# the corpus's own add-k LM (CCNet-style perplexity quality filter).
def q_ext_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.bigram_lm_doc_score(docs, k=0.5)


_AVG_R = stable_round_sql("AVG(logp)", 6)


register(
    "ext_lm_score",
    q_ext_lm_score,
    f"""
    WITH tok AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), db AS (
        SELECT doc_id, (bg).w1 AS w1, (bg).w2 AS w2 FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                       i -> {{'w1': toks[i], 'w2': toks[i + 1]}})) AS bg
            FROM tok WHERE len(toks) >= 2)
    ), big AS (
        SELECT w1, w2, COUNT(*) AS c_bigram FROM db GROUP BY w1, w2
    ), uni AS (
        SELECT u AS w1, COUNT(*) AS c_unigram
        FROM (SELECT unnest(toks) AS u FROM tok) GROUP BY u
    ), v AS (
        SELECT COUNT(*) AS vv FROM uni
    ), sc AS (
        SELECT d.doc_id,
               ln((CAST(coalesce(b.c_bigram, 0) AS DOUBLE) + CAST(0.5 AS DOUBLE))
                  / (CAST(coalesce(u.c_unigram, 0) AS DOUBLE)
                     + CAST(0.5 AS DOUBLE) * v.vv)) AS logp
        FROM db d
        LEFT JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
        LEFT JOIN uni u ON d.w1 = u.w1
        CROSS JOIN v
    )
    -- Rounded emission (see bigram_lm_doc_score): AVG-of-doubles order
    -- noise; floor-formula rounding (engines' ROUND primitives disagree
    -- on shortest-repr half-ties); perplexity derives from the ROUNDED
    -- mean, saturated at e^20 before its own rounding, on both sides.
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           {_AVG_R} AS avg_logp,
           {stable_round_sql(f"exp(-greatest({_AVG_R}, -20.0))", 4)} AS perplexity
    FROM sc GROUP BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# Concat-and-chunk sequence packing (GPT/T5 pretraining): documents in
# deterministic hash order, chopped into fixed-length training examples,
# docs splitting across boundaries. One shuffle on bucket; boundary
# fan-out is a map-side explode; all offset arithmetic exact integer.
_SEQPACK_LEN = 64


_SEQPACK_BUCKETS = 8


def q_ext_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select("doc_id", T.token_count("text").alias("n_tokens"))
    return SA.pack_sequences(
        sized, seq_len=_SEQPACK_LEN, n_buckets=_SEQPACK_BUCKETS
    )


register(
    "ext_pack_sequences",
    q_ext_pack_sequences,
    f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|seqpack'),
                    1, 15) AS BIGINT) AS h
        FROM documents
    ), s AS (
        SELECT doc_id, h % {_SEQPACK_BUCKETS} AS bucket, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY h % {_SEQPACK_BUCKETS} ORDER BY h, doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
        FROM t WHERE n_tokens > 0
    ), e AS (
        SELECT doc_id, bucket, n_tokens, start, u.ex AS example_idx
        FROM s, unnest(generate_series(start // {_SEQPACK_LEN},
                                       (start + n_tokens - 1) // {_SEQPACK_LEN})) u(ex)
    )
    SELECT doc_id, bucket,
           CAST(example_idx AS BIGINT) AS example_idx,
           CAST(greatest(example_idx * {_SEQPACK_LEN} - start, 0) AS INTEGER)
               AS doc_offset,
           CAST(greatest(start - example_idx * {_SEQPACK_LEN}, 0) AS INTEGER)
               AS example_offset,
           CAST(least(example_idx * {_SEQPACK_LEN} + {_SEQPACK_LEN} - start,
                      n_tokens)
                - greatest(example_idx * {_SEQPACK_LEN} - start, 0) AS INTEGER)
               AS n_seg_tokens
    FROM e
    """,
)


# ---------------------------------------------------------------------------
# Okapi BM25 ranked retrieval for a fixed query-term set — the keyword
# half of a RAG pipeline. Hits filter BEFORE the (doc, term) shuffle;
# N/avgdl are one broadcast scalar, df a |terms|-row broadcast. Per-term
# scores quantize to DECIMAL(18,6) before the per-doc sum so ranking
# compares identical decimals in both engines (libm ln noise absorbed).
_BM25_TERMS = ["data", "join", "vector", "stream"]


_BM25_K = 10


def q_ext_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.bm25_topk(docs, _BM25_TERMS, k=_BM25_K)


def _bm25_oracle(k: int = _BM25_K) -> str:
    terms_sql = "[" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + "]"
    return f"""
    WITH toks AS (
        SELECT doc_id, lower(u.w) AS tok
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents), unnest(toks) u(w)
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        WHERE list_contains({terms_sql}, tok)
        GROUP BY doc_id, tok
    ), dl AS (
        SELECT doc_id, len({_TOKS}) AS dl FROM documents
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_dl
        FROM dl
    ), dfreq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ), ts AS (
        SELECT tf.doc_id,
               CAST((CASE WHEN ((ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * CAST(tf.tf AS DOUBLE) * 2.2 / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / (CAST(s.total_dl AS DOUBLE) / s.n_docs))))) IS NULL OR isnan((ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * CAST(tf.tf AS DOUBLE) * 2.2 / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / (CAST(s.total_dl AS DOUBLE) / s.n_docs))))) OR abs((ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * CAST(tf.tf AS DOUBLE) * 2.2 / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / (CAST(s.total_dl AS DOUBLE) / s.n_docs))))) >= 9007199254.740992 THEN ((ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * CAST(tf.tf AS DOUBLE) * 2.2 / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / (CAST(s.total_dl AS DOUBLE) / s.n_docs))))) ELSE floor(((ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * CAST(tf.tf AS DOUBLE) * 2.2 / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / (CAST(s.total_dl AS DOUBLE) / s.n_docs))))) * 1000000.0 + 0.5) / 1000000.0 END)
                   AS DECIMAL(18,6)) AS ts
        FROM tf
        JOIN dl ON tf.doc_id = dl.doc_id
        JOIN dfreq d ON tf.tok = d.tok
        CROSS JOIN stats s
    ), agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS INTEGER) AS n_terms_matched,
               SUM(ts) AS score_dec
        FROM ts GROUP BY doc_id
    )
    SELECT doc_id, n_terms_matched,
           CAST(score_dec AS DOUBLE) AS score,
           CAST(ROW_NUMBER() OVER (ORDER BY score_dec DESC, doc_id)
                AS INTEGER) AS rank
    FROM agg
    QUALIFY rank <= {k}
    """


register("ext_bm25_topk", q_ext_bm25_topk, _bm25_oracle())


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion of the BM25 keyword list and a
# dense cosine list over the documents' embeddings (vec_id == doc_id in
# the corpus). RRF consumes only ranks, so no score calibration crosses
# the two retrievers; each fused term is one exact IEEE division and the
# two-term sum is a single add — rrf_score emits raw (see rrf_fuse).
_RRF_DEPTH = 20


_RRF_QUERY_VEC = 0


_RRF_K = 60


def q_ext_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    kw = T.bm25_topk(docs, _BM25_TERMS, k=_RRF_DEPTH).select("doc_id", "rank")
    q = emb.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    dense = S.brute_force_topk(emb, q, k=_RRF_DEPTH, round_to=None).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return S.rrf_fuse(
        [kw, dense],
        id_col="doc_id",
        out_names=["kw_rank", "dense_rank"],
        k=_RRF_K,
    )


def _rrf_oracle() -> str:
    rrf = (
        f"COALESCE(1.0 / ({_RRF_K}.0 + CAST(kw.rank AS DOUBLE)), 0.0) "
        f"+ COALESCE(1.0 / ({_RRF_K}.0 + CAST(dn.rank AS DOUBLE)), 0.0)"
    )
    return f"""
    WITH kw AS (
        SELECT doc_id, rank FROM ({_bm25_oracle(k=_RRF_DEPTH)})
    ), q AS (
        SELECT embedding AS qv FROM embeddings WHERE vec_id = {_RRF_QUERY_VEC}
    ), sc AS (
        SELECT e.vec_id AS doc_id,
               CASE WHEN sqrt({_dot_sql("q.qv", "q.qv")}) = 0
                         OR sqrt({_dot_sql("e.embedding", "e.embedding")}) = 0
                    THEN 0.0
                    ELSE {_dot_sql("q.qv", "e.embedding")}
                         / (sqrt({_dot_sql("q.qv", "q.qv")})
                            * sqrt({_dot_sql("e.embedding", "e.embedding")})) END
                   AS cs
        FROM embeddings e, q
        WHERE e.vec_id <> {_RRF_QUERY_VEC}
    ), dn AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id) AS INTEGER)
                   AS rank
        FROM sc
        QUALIFY rank <= {_RRF_DEPTH}
    )
    SELECT COALESCE(kw.doc_id, dn.doc_id) AS doc_id,
           kw.rank AS kw_rank,
           dn.rank AS dense_rank,
           {rrf} AS rrf_score,
           CAST(ROW_NUMBER() OVER (
               ORDER BY {rrf} DESC, COALESCE(kw.doc_id, dn.doc_id)
           ) AS INTEGER) AS fused_rank
    FROM kw FULL OUTER JOIN dn ON kw.doc_id = dn.doc_id
    """


register("ext_rrf_fusion", q_ext_rrf_fusion, _rrf_oracle())


# ---------------------------------------------------------------------------
# Per-source token-budget selection: the "best documents until the token
# budget fills" slice a fixed-size training mix needs. Ordering is the
# stable_round-ed quality score (engine-identical double) with doc_id
# ties; rank + exclusive prefix sum share one window partitioning, so the
# whole selection is a single shuffle on source.
_TB_BUDGET = 600


def q_ext_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        T.token_count("text").alias("n_tokens"),
        stable_round(T.quality_score("text", round_to=None), 6).alias("q6"),
    )
    out = SA.token_budget_sample(
        sized,
        group_col="source",
        rank_col="q6",
        cost_col="n_tokens",
        id_col="doc_id",
        budget=_TB_BUDGET,
    )
    return out.select(
        "source", "doc_id", "q6", "n_tokens", "sel_rank", "cum_cost"
    )


def _token_budget_oracle() -> str:
    order = "q6 DESC, doc_id"
    return f"""
    WITH {qscore_feature_ctes("doc_id, source")}, q AS (
        SELECT doc_id, source, n_tokens,
               {stable_round_sql(_QSCORE_SQL, 6)} AS q6
        FROM m
    ), r AS (
        SELECT doc_id, source, q6, n_tokens,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY {order}) AS INTEGER)
                   AS sel_rank,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY {order}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS prior
        FROM q
    )
    SELECT source, doc_id, q6, n_tokens, sel_rank,
           CAST(prior + n_tokens AS BIGINT) AS cum_cost
    FROM r WHERE prior < {_TB_BUDGET}
    """


register(
    "ext_token_budget_sample", q_ext_token_budget_sample, _token_budget_oracle()
)


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al., NeurIPS 2023): pick the corpus
# docs whose hashed-bigram distribution looks most like the target domain
# (here: the English slice). Per-bucket log-ratios quantize to
# DECIMAL(18,6) (libm ln noise absorbed, the bm25 discipline); the doc
# score is an exact decimal sum, so top-k ordering replays identically.
_DSIR_BUCKETS = 256


_DSIR_ALPHA = 0.5


_DSIR_K = 50


def q_ext_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    w = T.dsir_llr_weights(
        docs, target, n_buckets=_DSIR_BUCKETS, alpha=_DSIR_ALPHA
    )
    top = w.orderBy(F.col("llr_dec").desc(), "doc_id").limit(_DSIR_K)
    return top.select(
        "doc_id", "n_bigrams", F.col("llr_dec").cast("double").alias("llr")
    )


def _dsir_oracle() -> str:
    b = _DSIR_BUCKETS
    extra = _DSIR_ALPHA * b
    return f"""
    WITH tok AS (
        SELECT doc_id, lang, {_TOKS} AS t FROM documents
    ), bg AS (
        SELECT doc_id, lang, u.g AS g
        FROM tok,
             unnest(list_transform(range(2, len(t) + 1),
                                   i -> t[i - 1] || ' ' || t[i])) u(g)
        WHERE len(t) >= 2
    ), bb AS (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(g || '|dsir'), 1, 15) AS BIGINT) % {b}
                   AS b
        FROM bg
    ), tc AS (
        SELECT b, COUNT(*) AS ct FROM bb WHERE lang = 'en' GROUP BY b
    ), cc AS (
        SELECT b, COUNT(*) AS cnt FROM bb GROUP BY b
    ), tot AS (
        SELECT (SELECT COUNT(*) FROM bb WHERE lang = 'en') AS nt,
               (SELECT COUNT(*) FROM bb) AS nc
    ), l AS (
        SELECT r.range AS b,
               CAST((CASE WHEN ((ln((COALESCE(tc.ct, 0) + {_DSIR_ALPHA}) / (tot.nt + {extra})) - ln((COALESCE(cc.cnt, 0) + {_DSIR_ALPHA}) / (tot.nc + {extra})))) IS NULL OR isnan((ln((COALESCE(tc.ct, 0) + {_DSIR_ALPHA}) / (tot.nt + {extra})) - ln((COALESCE(cc.cnt, 0) + {_DSIR_ALPHA}) / (tot.nc + {extra})))) OR abs((ln((COALESCE(tc.ct, 0) + {_DSIR_ALPHA}) / (tot.nt + {extra})) - ln((COALESCE(cc.cnt, 0) + {_DSIR_ALPHA}) / (tot.nc + {extra})))) >= 9007199254.740992 THEN ((ln((COALESCE(tc.ct, 0) + {_DSIR_ALPHA}) / (tot.nt + {extra})) - ln((COALESCE(cc.cnt, 0) + {_DSIR_ALPHA}) / (tot.nc + {extra})))) ELSE floor(((ln((COALESCE(tc.ct, 0) + {_DSIR_ALPHA}) / (tot.nt + {extra})) - ln((COALESCE(cc.cnt, 0) + {_DSIR_ALPHA}) / (tot.nc + {extra})))) * 1000000.0 + 0.5) / 1000000.0 END) AS DECIMAL(18,6)) AS lr
        FROM range(0, {b}) r
        LEFT JOIN tc ON r.range = tc.b
        LEFT JOIN cc ON r.range = cc.b
        CROSS JOIN tot
    ), sc AS (
        SELECT bb.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(l.lr) AS DECIMAL(18,6)) AS llr_dec
        FROM bb JOIN l ON bb.b = l.b
        GROUP BY bb.doc_id
    )
    SELECT doc_id, n_bigrams, CAST(llr_dec AS DOUBLE) AS llr
    FROM sc
    ORDER BY llr_dec DESC, doc_id
    LIMIT {_DSIR_K}
    """


register("ext_dsir_sample", q_ext_dsir_sample, _dsir_oracle())


# ---------------------------------------------------------------------------
# Per-language quality calibration: raw quality scores are not comparable
# across languages (stopword lists, punctuation norms differ), so
# curation thresholds the per-lang PERCENTILE, not the raw score.
# percent_rank over a unique (q6, doc_id) ordering is (rank-1)/(n-1) —
# one IEEE division of exact small integers, engine-identical with no
# rounding. One shuffle on lang; the keep flag is map-side after it.
def q_ext_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    q6 = stable_round(T.quality_score("text", round_to=None), 6)
    w = Window.partitionBy("lang").orderBy("q6", "doc_id")
    return (
        docs.select("doc_id", "lang", q6.alias("q6"))
        .withColumn("pct", F.percent_rank().over(w))
        .withColumn("kept", F.col("pct") >= 0.5)
    )


def _quality_percentile_oracle() -> str:
    return f"""
    WITH {qscore_feature_ctes("doc_id, lang")}, q AS (
        SELECT doc_id, lang,
               {stable_round_sql(_QSCORE_SQL, 6)} AS q6
        FROM m
    )
    SELECT doc_id, lang, q6,
           PERCENT_RANK() OVER (PARTITION BY lang ORDER BY q6, doc_id) AS pct,
           PERCENT_RANK() OVER (PARTITION BY lang ORDER BY q6, doc_id) >= 0.5
               AS kept
    FROM q
    """


register(
    "ext_quality_percentile",
    q_ext_quality_percentile,
    _quality_percentile_oracle(),
)


# ---------------------------------------------------------------------------
# Corpus diversity (distinct-n): unique-trigram ratio per source — the
# standard diversity check for synthetic/generated training data (Li et
# al., NAACL 2016 "distinct" metric; Zhu et al. 2018 use its inverse as
# Self-BLEU's cheap proxy). Low ratio = templated/mode-collapsed text.
# One explode + two-level partial agg; the ratio is one IEEE division
# of exact counts.
_DN_N = 3


def q_ext_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = T.tokenize("text")
    grams = F.expr(
        f"transform(sequence(1, size(__t) - {_DN_N - 1}), "
        f"i -> concat_ws(' ', slice(__t, i, {_DN_N})))"
    )
    g = (
        docs.select("source", toks.alias("__t"))
        .filter(F.size("__t") >= _DN_N)
        .select("source", F.explode(grams).alias("g"))
    )
    return g.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_ngrams"),
        F.countDistinct("g").cast("long").alias("n_distinct"),
        (F.countDistinct("g").cast("double") / F.count(F.lit(1)))
        .alias("distinct_ratio"),
    )


register(
    "ext_distinct_ngrams",
    q_ext_distinct_ngrams,
    f"""
    WITH tok AS (
        SELECT source, {_TOKS} AS t FROM documents
    ), g AS (
        SELECT source, u.g AS g
        FROM tok,
             unnest(list_transform(range(1, len(t) - {_DN_N - 1} + 1),
                    i -> array_to_string(list_slice(t, i, i + {_DN_N - 1}), ' ')))
                 u(g)
        WHERE len(t) >= {_DN_N}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
           CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS distinct_ratio
    FROM g GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# PMI collocations (Church & Hanks, CL 1990): top bigrams by pointwise
# mutual information ln(N * c(a,b) / (c(a) * c(b))) with a min-count
# support floor — the classic collocation/phrase-mining statistic (the
# phrase-detection step word2vec popularized). All counts are exact
# partial aggs; the single libm ln quantizes to DECIMAL(18,6) (bm25
# discipline) so ranking replays identically; top-k is TakeOrdered.
_PMI_MIN_COUNT = 5


_PMI_K = 20


def q_ext_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = T.tokenize("text")
    bg = F.expr(
        "transform(sequence(1, size(__t) - 1), "
        "i -> struct(lower(__t[i - 1]) AS w1, lower(__t[i]) AS w2))"
    )
    pairs = (
        docs.select(toks.alias("__t"))
        .filter(F.size("__t") >= 2)
        .select(F.explode(bg).alias("b"))
        .select("b.w1", "b.w2")
    )
    bc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .select(F.lower("w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    # total tokens reduce from the unigram counts (no extra corpus
    # scan, no driver action — the DSIR totals discipline)
    tot = uni.agg(F.sum("c_w").alias("__n"))
    pmi = stable_round(
        F.log(
            F.col("__n").cast("double")
            * F.col("c_ab").cast("double")
            / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
        ),
        6,
    ).cast("decimal(18,6)")
    # NO broadcast hint on uni: the whitespace vocabulary is unbounded
    # (it grows with the corpus), so these are plain hash joins keyed on
    # the word — AQE may still broadcast when the table is actually
    # small, but the plan never *requires* collecting the vocabulary.
    scored = (
        bc.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c_w", "c_a"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c_w", "c_b"), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_ab", pmi.alias("pmi_dec"))
    )
    top = scored.orderBy(
        F.col("pmi_dec").desc(), "w1", "w2"
    ).limit(_PMI_K)
    return top.select(
        "w1", "w2", "c_ab", F.col("pmi_dec").cast("double").alias("pmi")
    )


register(
    "ext_pmi_collocations",
    q_ext_pmi_collocations,
    f"""
    WITH tok AS (
        SELECT {_TOKS} AS t FROM documents
    ), pairs AS (
        SELECT lower(t[i - 1]) AS w1, lower(t[i]) AS w2
        FROM tok, unnest(range(2, len(t) + 1)) u(i)
        WHERE len(t) >= 2
    ), bc AS (
        SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY w1, w2
    ), uni AS (
        SELECT lower(u.w) AS w, COUNT(*) AS c_w
        FROM tok, unnest(t) u(w) GROUP BY lower(u.w)
    ), tot AS (
        SELECT CAST(SUM(len(t)) AS BIGINT) AS n FROM tok
    ), scored AS (
        SELECT bc.w1, bc.w2, bc.c_ab,
               CAST((CASE WHEN ((ln(CAST(tot.n AS DOUBLE) * CAST(bc.c_ab AS DOUBLE) / (CAST(a.c_w AS DOUBLE) * CAST(b.c_w AS DOUBLE))))) IS NULL OR isnan((ln(CAST(tot.n AS DOUBLE) * CAST(bc.c_ab AS DOUBLE) / (CAST(a.c_w AS DOUBLE) * CAST(b.c_w AS DOUBLE))))) OR abs((ln(CAST(tot.n AS DOUBLE) * CAST(bc.c_ab AS DOUBLE) / (CAST(a.c_w AS DOUBLE) * CAST(b.c_w AS DOUBLE))))) >= 9007199254.740992 THEN ((ln(CAST(tot.n AS DOUBLE) * CAST(bc.c_ab AS DOUBLE) / (CAST(a.c_w AS DOUBLE) * CAST(b.c_w AS DOUBLE))))) ELSE floor(((ln(CAST(tot.n AS DOUBLE) * CAST(bc.c_ab AS DOUBLE) / (CAST(a.c_w AS DOUBLE) * CAST(b.c_w AS DOUBLE))))) * 1000000.0 + 0.5) / 1000000.0 END) AS DECIMAL(18,6)) AS pmi_dec
        FROM bc
        JOIN uni a ON bc.w1 = a.w
        JOIN uni b ON bc.w2 = b.w
        CROSS JOIN tot
        WHERE bc.c_ab >= {_PMI_MIN_COUNT}
    )
    SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
           CAST(pmi_dec AS DOUBLE) AS pmi
    FROM scored
    ORDER BY pmi_dec DESC, w1, w2
    LIMIT {_PMI_K}
    """,
)


# ---------------------------------------------------------------------------
# Packing efficiency report: per packing bucket, how much of the
# example capacity the concat-and-chunk stream actually fills (the
# padding-waste KPI a packing config is tuned on). Derived from the
# same hash-bucket totals ext_pack_sequences chunks — n_examples =
# ceil(total/seq_len) exactly (integer div), utilization = one IEEE
# division of exact integers.
def q_ext_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = T.portable_hash60(
        F.concat(F.col("doc_id").cast("string"), F.lit("|seqpack"))
    )
    sized = docs.select(
        (h % _SEQPACK_BUCKETS).alias("bucket"),
        T.token_count("text").cast("long").alias("nt"),
    ).filter(F.col("nt") > 0)
    per = sized.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("total_tokens"),
    )
    n_ex = F.expr(f"(total_tokens + {_SEQPACK_LEN - 1}) div {_SEQPACK_LEN}")
    return per.select(
        "bucket",
        "n_docs",
        "total_tokens",
        n_ex.cast("long").alias("n_examples"),
        (n_ex * _SEQPACK_LEN).cast("long").alias("capacity_tokens"),
        (
            F.col("total_tokens").cast("double")
            / (n_ex * _SEQPACK_LEN).cast("double")
        ).alias("utilization"),
    )


register(
    "ext_pack_efficiency",
    q_ext_pack_efficiency,
    f"""
    WITH sized AS (
        SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|seqpack'),
                    1, 15) AS BIGINT) % {_SEQPACK_BUCKETS} AS bucket,
               CAST(len({_TOKS}) AS BIGINT) AS nt
        FROM documents
    ), per AS (
        SELECT bucket, COUNT(*) AS n_docs, SUM(nt) AS total_tokens
        FROM sized WHERE nt > 0 GROUP BY bucket
    )
    SELECT bucket,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST((total_tokens + {_SEQPACK_LEN - 1}) // {_SEQPACK_LEN} AS BIGINT)
               AS n_examples,
           CAST(((total_tokens + {_SEQPACK_LEN - 1}) // {_SEQPACK_LEN})
                * {_SEQPACK_LEN} AS BIGINT) AS capacity_tokens,
           CAST(total_tokens AS DOUBLE)
               / CAST(((total_tokens + {_SEQPACK_LEN - 1}) // {_SEQPACK_LEN})
                      * {_SEQPACK_LEN} AS DOUBLE) AS utilization
    FROM per
    """,
)


# ---------------------------------------------------------------------------
# Frequent-span mining: the 8-gram spans appearing in the most DISTINCT
# documents — the boilerplate/canary surface (cookie banners, license
# headers, injected watermarks) that window-dedup statistics count but
# don't name. Distinct-gram-per-doc before the doc-frequency agg; top-k
# is TakeOrdered on exact counts (ties by span text). At 100 TB the
# first pass would carry gram HASHES and join the top candidates back
# for their text — here the spans are small enough to ship directly.
_SPAN_N = 8


_SPAN_K = 15


_SPAN_MIN_DOCS = 3


def q_ext_frequent_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = T.tokenize("text")
    grams = F.expr(
        f"array_distinct(transform(sequence(1, size(__t) - {_SPAN_N - 1}), "
        f"i -> concat_ws(' ', slice(__t, i, {_SPAN_N}))))"
    )
    g = (
        docs.select(F.col("doc_id"), toks.alias("__t"))
        .filter(F.size("__t") >= _SPAN_N)
        .select("doc_id", F.explode(grams).alias("span"))
    )
    df_counts = g.groupBy("span").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        df_counts.filter(F.col("n_docs") >= _SPAN_MIN_DOCS)
        .orderBy(F.col("n_docs").desc(), "span")
        .limit(_SPAN_K)
    )


register(
    "ext_frequent_spans",
    q_ext_frequent_spans,
    f"""
    WITH tok AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), g AS (
        SELECT DISTINCT doc_id, u.g AS span
        FROM tok,
             unnest(list_transform(range(1, len(t) - {_SPAN_N - 1} + 1),
                    i -> array_to_string(list_slice(t, i, i + {_SPAN_N - 1}), ' ')))
                 u(g)
        WHERE len(t) >= {_SPAN_N}
    )
    SELECT span, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM g GROUP BY span
    HAVING COUNT(*) >= {_SPAN_MIN_DOCS}
    ORDER BY n_docs DESC, span
    LIMIT {_SPAN_K}
    """,
)


# ---------------------------------------------------------------------------
# Label balance: Shannon entropy of the embedding label distribution,
# plus its normalized form (H / log2(n_labels), 1.0 = perfectly
# balanced) — the class-balance diagnostic run before sampling or
# hard-negative mining. Per-label -p*log2(p) terms quantize to
# DECIMAL(18,6) before the exact sum (libm log2 noise absorbed, bm25
# discipline); the normalized ratio divides by another libm log2, so it
# is stable_round-ed at source on both sides.
def q_ext_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    per = emb.groupBy("label").agg(F.count(F.lit(1)).alias("c"))
    tot = per.agg(
        F.sum("c").alias("__n"), F.count(F.lit(1)).alias("__k")
    )
    p = F.col("c").cast("double") / F.col("__n").cast("double")
    term = stable_round(-p * F.log2(p), 6).cast("decimal(18,6)")
    h = per.crossJoin(F.broadcast(tot)).agg(
        F.max("__k").cast("long").alias("n_labels"),
        F.max("__n").cast("long").alias("n_vecs"),
        F.sum(term).cast("decimal(18,6)").alias("__h_dec"),
    )
    # single-label corpus: log2(1)=0 makes Spark's divide yield NULL but
    # DuckDB +inf — define balance as 1.0 (trivially "balanced") on both
    # sides instead of leaning on either engine's division-by-zero
    balance = F.when(
        F.col("n_labels") > 1,
        stable_round(
            F.col("__h_dec").cast("double")
            / F.log2(F.col("n_labels").cast("double")),
            6,
        ),
    ).otherwise(F.lit(1.0))
    return h.select(
        "n_labels",
        "n_vecs",
        F.col("__h_dec").cast("double").alias("entropy_bits"),
        balance.alias("balance"),
    )


def _label_balance_oracle() -> str:
    bal_expr = stable_round_sql(
        "CAST(h_dec AS DOUBLE) / log2(CAST(n_labels AS DOUBLE))", 6
    )
    bal = f"CASE WHEN n_labels > 1 THEN {bal_expr} ELSE 1.0 END"
    return f"""
    WITH per AS (
        SELECT label, COUNT(*) AS c FROM embeddings GROUP BY label
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS k FROM per
    ), terms AS (
        SELECT CAST((CASE WHEN ((-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))) IS NULL OR isnan((-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))) OR abs((-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))) >= 9007199254.740992 THEN ((-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))) ELSE floor(((-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))) * 1000000.0 + 0.5) / 1000000.0 END) AS DECIMAL(18,6)) AS t,
               k, n
        FROM per CROSS JOIN tot
    ), agg AS (
        SELECT CAST(MAX(k) AS BIGINT) AS n_labels,
               CAST(MAX(n) AS BIGINT) AS n_vecs,
               CAST(SUM(t) AS DECIMAL(18,6)) AS h_dec
        FROM terms
    )
    SELECT n_labels, n_vecs,
           CAST(h_dec AS DOUBLE) AS entropy_bits,
           {bal} AS balance
    FROM agg
    """


register("ext_label_balance", q_ext_label_balance, _label_balance_oracle())


# ---------------------------------------------------------------------------
# C4/Gopher-style quality gate. Map-only: every rule is a native Column
# expression over one scan of `documents`; the per-rule flags let the
# oracle value-check each rule independently, not just the final verdict.

#: ORDINARY_CLASS with the single-quote doubled for embedding in a DuckDB
#: string literal.
_ORDINARY_SQL = C.ORDINARY_CLASS.replace("'", "''")


_BOILER_SQL = " AND ".join(
    f"NOT contains(low, '{m}')" for m in C.BOILERPLATE_MARKERS
)


def q_ext_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.c4_quality_flags(_t(spark, sf_dir, "documents"))


register(
    "ext_c4_filter",
    q_ext_c4_filter,
    f"""
    WITH base AS (
        SELECT doc_id,
               coalesce(text, '') AS t,
               lower(coalesce(text, '')) AS low,
               {_TOKS} AS toks
        FROM documents
    ), m AS (
        SELECT doc_id, t, low, toks,
               len(toks) AS n_words,
               length(regexp_replace(t, '{T.WS_CLASS}', '', 'g')) AS n_nonspace,
               length(t) AS n_chars,
               length(regexp_replace(t, '{_ORDINARY_SQL}', '', 'g')) AS n_symbols
        FROM base
    ), r AS (
        SELECT doc_id, n_words,
               CASE WHEN n_words > 0
                    THEN CAST(n_nonspace AS DOUBLE) / n_words ELSE 0.0 END
                   AS mean_word_len,
               CASE WHEN n_chars > 0
                    THEN CAST(n_symbols AS DOUBLE) / n_chars ELSE 0.0 END
                   AS symbol_ratio,
               (n_words BETWEEN {C.MIN_WORDS} AND {C.MAX_WORDS}) AS flag_word_count,
               regexp_matches(t, '[.!?]{T.WS_CLASS}*$') AS flag_terminal_punct,
               len(list_filter(toks, x -> list_contains({_STOP_SQL}, lower(x)))) > 0
                   AS flag_has_stopword,
               ({_BOILER_SQL}) AS flag_no_boilerplate
        FROM m
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio,
           flag_word_count,
           (mean_word_len BETWEEN {C.MIN_MEAN_WORD_LEN} AND {C.MAX_MEAN_WORD_LEN})
               AS flag_mean_word_len,
           flag_terminal_punct,
           (symbol_ratio < {C.MAX_SYMBOL_RATIO}) AS flag_symbol_ratio,
           flag_has_stopword, flag_no_boilerplate,
           (flag_word_count
            AND (mean_word_len BETWEEN {C.MIN_MEAN_WORD_LEN} AND {C.MAX_MEAN_WORD_LEN})
            AND flag_terminal_punct
            AND (symbol_ratio < {C.MAX_SYMBOL_RATIO})
            AND flag_has_stopword AND flag_no_boilerplate) AS keep
    FROM r
    """,
)


# ---------------------------------------------------------------------------
# Character-class entropy. The 36 replace-count passes and the fixed
# summation order are shared between engines via curation.ENTROPY_ALPHABET
# / char_entropy_sql_exprs; the log2-derived entropy is emitted rounded
# (libm ulp differences survive any op-order discipline).

def q_ext_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # Two-step select: the struct is aliased once and field-accessed in the
    # parent project; CollapseProject keeps the split (the alias is
    # non-cheap and referenced 3x), so the 36-count array is evaluated once.
    return docs.select(
        "doc_id", C.char_class_entropy("text").alias("__e")
    ).select(
        "doc_id",
        F.col("__e.n_alnum").alias("n_alnum"),
        # log2 is libm: JVM vs DuckDB differ in the last ulp for some
        # arguments, so the entropy sum is not bit-comparable however
        # fixed the op order. Round the emitted double (6 decimals on a
        # <=5.17-bit entropy leaves ~5e3x margin over the ulp noise).
        # top_char_frac is a pure IEEE division of exact counts —
        # deterministic, no rounding needed.
        stable_round(F.col("__e.entropy_bits"), 6).alias("entropy_bits"),
        F.col("__e.top_char_frac").alias("top_char_frac"),
    )


def _char_entropy_oracle() -> str:
    x = C.char_entropy_sql_exprs("text")
    return f"""
    WITH base AS (
        SELECT doc_id, {x['n']} AS n, text FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_alnum,
           {stable_round_sql(x['entropy'], 6)} AS entropy_bits,
           {x['top']} AS top_char_frac
    FROM base
    """


register("ext_char_entropy", q_ext_char_entropy, _char_entropy_oracle())


# ---------------------------------------------------------------------------
# Sliding-window token chunking (RAG / context packing). Map-only fan-out.

def q_ext_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.chunk_tokens(_t(spark, sf_dir, "documents"))


register(
    "ext_chunk_text",
    q_ext_chunk_text,
    f"""
    WITH base AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), st AS (
        SELECT doc_id, toks, u.s AS start_tok
        FROM base,
             unnest(CASE WHEN len(toks) > 0
                         THEN generate_series(0, len(toks) - 1, {C.CHUNK_STRIDE})
                         ELSE CAST([] AS BIGINT[]) END) u(s)
    )
    SELECT doc_id,
           CAST(start_tok // {C.CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(start_tok AS INTEGER) AS start_tok,
           CAST(len(list_slice(toks, start_tok + 1, start_tok + {C.CHUNK_SIZE}))
                AS INTEGER) AS n_chunk_toks,
           md5(array_to_string(list_slice(toks, start_tok + 1, start_tok + {C.CHUNK_SIZE}), ' '))
               AS chunk_md5
    FROM st
    """,
)


# ---------------------------------------------------------------------------
# Frame sampling over binary payloads (video-sampler plumbing: 1:N
# mapInPandas fan-out, sha256 per byte-slice). The query restricts itself
# to ASCII payloads IN BOTH ENGINES (octet_length == char length) so the
# oracle's VARCHAR substring is byte-exact; the operator itself is
# byte-oriented and has no such restriction.

def q_ext_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents").filter(
        F.length("text") == F.octet_length("text")
    )
    items = M.synthesize_binary_items(docs, payload_repeat=8)
    return M.sample_frames(items.select("item_id", "payload"))


register(
    "ext_multimodal_frames",
    q_ext_multimodal_frames,
    """
    WITH items AS (
        SELECT doc_id AS item_id, repeat(coalesce(text, ''), 8) AS payload
        FROM documents
        WHERE octet_length(encode(text)) = length(text)
    ), sized AS (
        SELECT item_id, payload,
               least(8, greatest(1, octet_length(encode(payload)) // 1024)) AS n
        FROM items
    )
    SELECT item_id,
           CAST(j AS INTEGER) AS frame_idx,
           sha256(substring(payload, CAST(j * 1024 + 1 AS BIGINT), 1024)) AS frame_sha256
    FROM sized, range(0, 8) r(j)
    WHERE j < n
    """,
)


# ---------------------------------------------------------------------------
# Resize plumbing (the remaining multimodal verb: decode -> resize ->
# re-encode): portable kernel emits a checksum of the deterministic
# "resized" stand-in, value-checked by the oracle. md5 hashes utf-8 on
# both sides, so no ASCII restriction needed (unlike the byte-substring
# frames oracle).

_RESIZE_W = 16


_RESIZE_H = 16


def q_ext_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    items = M.synthesize_binary_items(docs, payload_repeat=8)
    return M.resize_binary(items, width=_RESIZE_W, height=_RESIZE_H)


register(
    "ext_multimodal_resize",
    q_ext_multimodal_resize,
    f"""
    WITH items AS (
        SELECT doc_id AS item_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS modality,
               repeat(coalesce(text, ''), 8) AS payload
        FROM documents
    )
    SELECT item_id, modality,
           CAST(octet_length(CAST(payload AS BLOB)) AS INTEGER) AS src_bytes,
           CAST({_RESIZE_W} AS INTEGER) AS out_w,
           CAST({_RESIZE_H} AS INTEGER) AS out_h,
           md5(substr(repeat(md5(payload), {-(-_RESIZE_W * _RESIZE_H // 32)}),
                      1, {_RESIZE_W * _RESIZE_H})) AS resized_md5
    FROM items
    """,
)


# ---------------------------------------------------------------------------
# ext_text_normalize: dirty text is synthesized by splicing every mojibake
# sequence, a BEL control char, a tab and double spaces into the clean
# document text; the normalizer must repair all of it. Output pins both
# the exact normalized bytes (md5) and the length deltas.

#: One dirty fragment containing every bad sequence in the repair table,
#: separated by spaces so the whitespace collapse is exercised too.
_DIRTY_FRAGMENT = "  ".join(bad for bad, _ in N.MOJIBAKE_PAIRS)


#: What the fragment must normalize to (goods joined by single spaces —
#: the trailing mojibake-NBSP pair repairs to ' ' and then collapses).
_CLEAN_FRAGMENT = " ".join(good for _, good in N.MOJIBAKE_PAIRS).rstrip()


def q_ext_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("\t "),
        F.substring("text", 1, 40),
        F.lit("  "),  # BEL: stripped by the control class
        F.lit(_DIRTY_FRAGMENT),
        F.lit("  "),
        F.substring("text", 41, 40),
        F.lit(" "),  # VT: stripped, then trailing space trimmed
    )
    stage = docs.select("doc_id", dirty.alias("dirty")).select(
        "doc_id",
        "dirty",
        N.normalize_text(F.col("dirty")).alias("norm"),
    )
    return stage.select(
        "doc_id",
        F.length("dirty").cast("long").alias("len_dirty"),
        F.length("norm").cast("long").alias("len_norm"),
        F.md5(F.col("norm").cast("binary")).alias("norm_md5"),
    )


def _normalize_sql(expr: str) -> str:
    """DuckDB twin of operators.normalize.normalize_text over ``expr``
    (same op order: control strip FIRST, then repair — see the
    operator's idempotence note)."""
    out = f"coalesce({expr}, '')"
    out = rf"regexp_replace({out}, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')"
    for bad, good in N.MOJIBAKE_PAIRS:
        out = f"replace({out}, '{bad}', '{good}')"
    out = rf"regexp_replace({out}, '{WS_PLUS}', ' ', 'g')"
    return f"trim({out})"


register(
    "ext_text_normalize",
    q_ext_text_normalize,
    f"""
    WITH dirty AS (
        SELECT doc_id,
               chr(9) || ' ' || substr(text, 1, 40) || ' ' || chr(7) || ' '
               || '{_DIRTY_FRAGMENT}' || '  ' || substr(text, 41, 40)
               || ' ' || chr(11) AS dirty
        FROM documents
    )
    SELECT doc_id,
           CAST(length(dirty) AS BIGINT) AS len_dirty,
           CAST(length({_normalize_sql("dirty")}) AS BIGINT) AS len_norm,
           md5({_normalize_sql("dirty")}) AS norm_md5
    FROM dirty
    """,
)


# ---------------------------------------------------------------------------
# ext_line_dedup: within-document first-occurrence sentence dedup (Dolma's
# within-doc pass; curation.paragraph_dedup is the corpus-wide variant).
# The fixture repeats sentence s1 inside each synthesized document, so
# every doc has a real duplicate to drop. Fully map-only in Spark (array
# filter on first-occurrence index) — the zero-shuffle scale story is the
# point of the within-doc variant.

def q_ext_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    s1 = F.substring("text", 1, 30)
    s2 = F.substring("text", 31, 30)
    s3 = F.substring("text", 61, 30)
    doc = F.concat_ws(". ", s1, s2, s1, s3)
    return N.line_dedup_within_doc(
        docs.select("doc_id", doc.alias("text")), text_col="text"
    ).select(
        "doc_id",
        "n_parts",
        "n_kept",
        "kept_ratio",
        F.md5(F.col("rebuilt").cast("binary")).alias("rebuilt_md5"),
    )


register(
    "ext_line_dedup",
    q_ext_line_dedup,
    """
    WITH fix AS (
        SELECT doc_id,
               concat_ws('. ', substr(text, 1, 30), substr(text, 31, 30),
                         substr(text, 1, 30), substr(text, 61, 30)) AS t
        FROM documents
    ), split AS (
        SELECT doc_id, string_split(coalesce(t, ''), '. ') AS toks FROM fix
    ), kept AS (
        SELECT doc_id, toks,
               list_filter(toks, (x, i) -> list_position(toks, x) = i) AS first_only
        FROM split
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_parts,
           CAST(len(first_only) AS BIGINT) AS n_kept,
           CAST(len(first_only) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS kept_ratio,
           md5(array_to_string(first_only, '. ')) AS rebuilt_md5
    FROM kept
    """,
)


# ---------------------------------------------------------------------------
# ext_corpus_shuffle: deterministic hash permutation + shard assignment
# (reproducible training order). One exchange total — the same shuffle the
# shard writer needs. Portable md5 hash so any engine can replay the order.

_SHUFFLE_SEED = 42


_N_SHARDS = 8


def q_ext_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return N.corpus_shuffle(docs, n_shards=_N_SHARDS, seed=_SHUFFLE_SEED)


register(
    "ext_corpus_shuffle",
    q_ext_corpus_shuffle,
    f"""
    WITH h AS (
        SELECT doc_id,
               CAST('0x' || substr(md5('{_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % {PORTABLE_P} AS hh
        FROM documents
    )
    SELECT doc_id,
           CAST(hh % {_N_SHARDS} AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY hh % {_N_SHARDS} ORDER BY hh, doc_id)
                AS BIGINT) AS pos
    FROM h
    """,
)


# ---------------------------------------------------------------------------
# ext_temperature_weights: per-domain tempered sampling weights
# (w_d ∝ p_d^0.7, the multilingual-LM upsampling rule). Corpus reduces to
# |domains| rows before any float math; the renormalizing sum runs in
# DECIMAL so neither engine's float addition order matters.

_ALPHA = 0.7


def q_ext_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return N.temperature_weights(docs, domain_col="source", alpha=_ALPHA)


register(
    "ext_temperature_weights",
    q_ext_temperature_weights,
    f"""
    WITH per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ), p AS (
        SELECT source, n_docs, n_tokens,
               CAST(n_tokens AS DOUBLE)
                   / (CASE WHEN SUM(n_tokens) OVER () > 0
                           THEN CAST(SUM(n_tokens) OVER () AS DOUBLE) END) AS p
        FROM per
    ), w AS (
        SELECT *, CAST((CASE WHEN (pow(p, {_ALPHA})) IS NULL OR isnan(pow(p, {_ALPHA})) OR abs(pow(p, {_ALPHA})) >= 9007.199254740992 THEN (pow(p, {_ALPHA})) ELSE floor((pow(p, {_ALPHA})) * 1000000000000.0 + 0.5) / 1000000000000.0 END) AS DECIMAL(28,12)) AS w_dec FROM p
    )
    -- pow() is libm (engine ulp differences): pow-derived outputs are
    -- emitted floor-formula-rounded on both sides (ROUND primitives
    -- disagree on half-ties); p is an exact division, raw.
    SELECT source, n_docs, n_tokens, p,
           {stable_round_sql("CAST(w_dec AS DOUBLE) / CAST(SUM(w_dec) OVER () AS DOUBLE)", 8)}
               AS weight,
           {stable_round_sql("((CAST(w_dec AS DOUBLE) / CAST(SUM(w_dec) OVER () AS DOUBLE)) / (CASE WHEN p > 0 THEN p END))", 8)}
               AS epochs_vs_uniform
    FROM w
    """,
)


# ---------------------------------------------------------------------------
# ext_quality_classifier: fastText-style hashed linear scorer (map-only;
# the inference half of a learned quality filter — weights are a fixed
# deterministic vector standing in for trained parameters, exactly as the
# lowest-id "centroids" stand in for trained k-means in the ANN family).

def q_ext_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    score = hashed_linear_score("text")
    # exp() inside the sigmoid is libm (engine ulp differences): emit the
    # score rounded. keep compares the UNROUNDED score on both sides —
    # sigmoid is monotone, so it equals raw >= 0, which both engines
    # compute identically (fixed-order sum of identical doubles).
    return docs.select(
        "doc_id",
        stable_round(score, 6).alias("score"),
        (score >= 0.5).alias("keep"),
    )


def _qc_oracle() -> str:
    from be_analytic_etl_spark.operators.textstats import QC_BIAS, QC_BUCKETS, qc_weights

    w_sql = "[" + ",".join(repr(x) for x in qc_weights()) + "]"
    per_tok = (
        f"list_transform({_TOKS}, t -> {w_sql}["
        f"CAST((CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % {PORTABLE_P})"
        f" % {QC_BUCKETS} AS INTEGER) + 1])"
    )
    raw = f"list_reduce([CAST({QC_BIAS!r} AS DOUBLE)] || {per_tok}, (x, y) -> x + y)"
    return f"""
    SELECT doc_id,
           {stable_round_sql(f"1.0 / (1.0 + exp(-({raw})))", 6)} AS score,
           (1.0 / (1.0 + exp(-({raw}))) >= 0.5) AS keep
    FROM documents
    """


register("ext_quality_classifier", q_ext_quality_classifier, _qc_oracle())


# ---------------------------------------------------------------------------
# ext_preference_pairs: RLHF-style (chosen, rejected) pair construction —
# per language group, the highest- and lowest-scoring documents under the
# hashed linear quality model, with the score margin. ONE shuffle: scores
# are map-side, the per-group argmax/argmin are struct-min aggregates
# (partial-agg'd), no window, no self-join.

def q_ext_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    s = docs.select(
        "lang", "doc_id", hashed_linear_score("text").alias("score")
    )
    chosen = F.min(
        F.struct(
            (-F.col("score")).alias("ns"),
            F.col("doc_id").alias("id"),
            F.col("score").alias("s"),
        )
    )
    rejected = F.min(
        F.struct(
            F.col("score").alias("s"),
            F.col("doc_id").alias("id"),
        )
    )
    agg = s.groupBy("lang").agg(chosen.alias("__c"), rejected.alias("__r"))
    # Selection (min/max by score) runs on the RAW sigmoid — monotone, so
    # a last-ulp exp() delta can only flip it on a sub-ulp tie. The
    # EMITTED scores/margin are rounded: exp() is libm and its ulp noise
    # is engine-specific (same class as ext_quality_classifier).
    return agg.select(
        "lang",
        F.col("__c.id").alias("chosen_id"),
        stable_round(F.col("__c.s"), 6).alias("chosen_score"),
        F.col("__r.id").alias("rejected_id"),
        stable_round(F.col("__r.s"), 6).alias("rejected_score"),
        stable_round(F.col("__c.s") - F.col("__r.s"), 6).alias("margin"),
    )


def _pref_oracle() -> str:
    from be_analytic_etl_spark.operators.textstats import QC_BIAS, QC_BUCKETS, qc_weights

    w_sql = "[" + ",".join(repr(x) for x in qc_weights()) + "]"
    per_tok = (
        f"list_transform({_TOKS}, t -> {w_sql}["
        f"CAST((CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % {PORTABLE_P})"
        f" % {QC_BUCKETS} AS INTEGER) + 1])"
    )
    raw = f"list_reduce([CAST({QC_BIAS!r} AS DOUBLE)] || {per_tok}, (x, y) -> x + y)"
    return f"""
    WITH s AS (
        SELECT lang, doc_id, 1.0 / (1.0 + exp(-({raw}))) AS score FROM documents
    ), c AS (
        SELECT lang, doc_id, score,
               row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn
        FROM s
    ), r AS (
        SELECT lang, doc_id, score,
               row_number() OVER (PARTITION BY lang ORDER BY score ASC, doc_id) AS rn
        FROM s
    )
    SELECT c.lang,
           c.doc_id AS chosen_id, {stable_round_sql("c.score", 6)} AS chosen_score,
           r.doc_id AS rejected_id, {stable_round_sql("r.score", 6)} AS rejected_score,
           {stable_round_sql("c.score - r.score", 6)} AS margin
    FROM c JOIN r ON c.lang = r.lang
    WHERE c.rn = 1 AND r.rn = 1
    """


register("ext_preference_pairs", q_ext_preference_pairs, _pref_oracle())


# ---------------------------------------------------------------------------
# ext_pipeline_spec: the end-to-end curation chain declared as a JSON-able
# pipeline spec and composed by pipeline.run_pipeline; registered as
# ext_pipeline_e2e against the recursive-CTE oracle
# PIPELINE_ORACLE_SQL.

def q_ext_pipeline_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import tokenize
    from be_analytic_etl_spark.pipeline import run_pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    spec = [
        {"op": "quality_gate", "min_chars": _PIPE_MIN_CHARS, "min_tokens": _PIPE_MIN_TOKENS},
        {"op": "exact_dedup"},
        {
            "op": "near_dedup",
            "num_hashes": _MH_HASHES,
            "bands": _LSH_BANDS,
            "shingle_n": _MH_SHINGLE,
            "jaccard_threshold": _LSH_THRESH,
            "max_bucket": _LSH_MAXBUCKET,
            "portable": True,
        },
        {"op": "split"},
    ]
    out = run_pipeline(docs, spec)
    return out.select(
        "doc_id", "lang", F.size(tokenize("text")).alias("n_tokens"), "split"
    )


# ---------------------------------------------------------------------------
# ext_udtf_sentences: Python UDTF (Spark 4) in a LATERAL join — the
# table-function escape hatch for 1:N row expansion that needs imperative
# Python. Deliberately given semantics a SQL twin CAN replicate (split on
# '. ', whitespace token counts), so the UDTF plumbing itself is value-
# checked. The docstring caveat applies at scale: this crosses the Python
# boundary per row — prefer the native array exprs (curation.chunk_tokens,
# normalize.line_dedup_within_doc) for anything hot; the UDTF form exists
# for logic that genuinely needs Python (and is Arrow-batched like
# mapInPandas when it does).

def q_ext_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, sentence string, n_toks int")
    class SentenceSplit:
        def eval(self, text: str):
            for i, s in enumerate((text or "").split(". ")):
                yield i, s, len(s.split())

    spark.udtf.register("graft_sentence_split", SentenceSplit)
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, md5(CAST(s.sentence AS BINARY)) AS sentence_md5,
               s.n_toks
        FROM __udtf_docs d, LATERAL graft_sentence_split(coalesce(d.text, '')) s
        """
    )


register(
    "ext_udtf_sentences",
    q_ext_udtf_sentences,
    rf"""
    WITH parts AS (
        SELECT doc_id, string_split(coalesce(text, ''), '. ') AS ps FROM documents
    )
    SELECT doc_id,
           CAST(u.e.pos AS INTEGER) AS pos,
           md5(u.e.s) AS sentence_md5,
           CAST(len(CASE WHEN trim(u.e.s) = '' THEN CAST([] AS VARCHAR[])
                         ELSE string_split_regex(trim(u.e.s), '{WS_PLUS}') END)
                AS INTEGER) AS n_toks
    FROM parts,
         unnest(list_apply(ps, (x, i) -> struct_pack(pos := i - 1, s := x))) u(e)
    """,
)


# ---------------------------------------------------------------------------
# ext_curriculum_sample: exact quartile thresholds over token counts, map-
# side bucket assignment (no ntile / no global sort), then a deterministic
# 1-in-10 portable-hash sample per bucket. Returns per-bucket totals,
# sample sizes and the sampled token mass.

def q_ext_curriculum_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    buckets = V.curriculum_buckets(
        docs, F.size(tokenize("text")), id_col="doc_id"
    )
    in_sample = (portable_base_hash(F.col("doc_id").cast("string")) % 10) == 0
    return buckets.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(in_sample, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        F.sum(F.when(in_sample, F.col("length")).otherwise(F.lit(0.0)))
        .cast("double")
        .alias("sum_len_sampled"),
    )


register(
    "ext_curriculum_sample",
    q_ext_curriculum_sample,
    f"""
    WITH lens AS (
        SELECT doc_id, CAST(len({_TOKS}) AS DOUBLE) AS l FROM documents
    ), q AS (
        SELECT quantile_cont(l, [0.25, 0.5, 0.75]) AS qs FROM lens
    ), b AS (
        SELECT doc_id, l,
               (CASE WHEN l > qs[1] THEN 1 ELSE 0 END
                + CASE WHEN l > qs[2] THEN 1 ELSE 0 END
                + CASE WHEN l > qs[3] THEN 1 ELSE 0 END) AS bucket,
               (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                % {PORTABLE_P}) % 10 = 0 AS in_sample
        FROM lens, q
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN in_sample THEN l ELSE 0.0 END) AS DOUBLE)
               AS sum_len_sampled
    FROM b GROUP BY bucket
    """,
)


def _checksum_sql(key: str) -> str:
    """DuckDB twin of versioning.dataset_manifest's key checksum: 60-bit
    md5-head hashes summed in exact DECIMAL, mod p. ONE source of truth
    for every manifest oracle in this file."""
    return (
        f"CAST(SUM(CAST(CAST('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15) "
        f"AS BIGINT) AS DECIMAL(38,0))) % 2147483647 AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# ext_dataset_manifest: the provenance record shipped with a training-data
# release — per (lang, split), row count, char volume, and an
# order-insensitive key checksum a consumer re-derives to detect dropped
# or duplicated rows without scanning content. Checksum sums 60-bit
# md5-head key hashes in exact DECIMAL, so row order, partition merge
# order, and engine are all irrelevant.


def q_ext_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sampling import assign_split

    docs = _t(spark, sf_dir, "documents").withColumn(
        "split", assign_split("doc_id")
    )
    return V.dataset_manifest(
        docs, ["lang", "split"], key_col="doc_id", size_col="n_chars"
    )


def _manifest_oracle() -> str:
    return f"""
    WITH d AS (
        SELECT lang, n_chars, doc_id,
               CASE WHEN {_bucket_sql("split")} < 9000 THEN 'train'
                    WHEN {_bucket_sql("split")} < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT lang, split,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_checksum_sql('doc_id')} AS key_checksum,
           CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
    FROM d GROUP BY lang, split
    """


register("ext_dataset_manifest", q_ext_dataset_manifest, _manifest_oracle())


# ---------------------------------------------------------------------------
# ext_manifest_drift: the consumer side of ext_dataset_manifest — re-derive
# the manifest from what was received (here: the corpus minus one
# deterministic "lost shard": doc_id % 17 == 3) and diff against the
# producer's. Checksum inequality pinpoints the damaged groups without
# any content scan; both manifests are |groups| rows, so the diff is a
# broadcastable join no matter the corpus size.


def q_ext_manifest_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    produced = V.dataset_manifest(docs, ["lang"], key_col="doc_id", size_col="n_chars")
    received = V.dataset_manifest(
        docs.filter(F.col("doc_id") % 17 != 3),
        ["lang"],
        key_col="doc_id",
        size_col="n_chars",
    )
    p = produced.select(
        "lang",
        F.col("n_rows").alias("p_rows"),
        F.col("key_checksum").alias("p_checksum"),
    )
    r = received.select(
        "lang",
        F.col("n_rows").alias("r_rows"),
        F.col("key_checksum").alias("r_checksum"),
    )
    return (
        p.join(r, "lang", "full_outer")
        .select(
            "lang",
            F.coalesce("p_rows", F.lit(0)).alias("p_rows"),
            F.coalesce("r_rows", F.lit(0)).alias("r_rows"),
            (F.coalesce("p_rows", F.lit(0)) - F.coalesce("r_rows", F.lit(0))).alias(
                "missing_rows"
            ),
            (
                ~F.coalesce("p_checksum", F.lit(-1)).eqNullSafe(
                    F.coalesce("r_checksum", F.lit(-1))
                )
            ).alias("content_drift"),
        )
    )


def _manifest_drift_oracle() -> str:
    h = _checksum_sql("doc_id")
    return f"""
    WITH produced AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS p_rows, {h} AS p_checksum
        FROM documents GROUP BY lang
    ), received AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS r_rows, {h} AS r_checksum
        FROM documents WHERE doc_id % 17 <> 3 GROUP BY lang
    )
    SELECT coalesce(p.lang, r.lang) AS lang,
           coalesce(p_rows, 0) AS p_rows,
           coalesce(r_rows, 0) AS r_rows,
           coalesce(p_rows, 0) - coalesce(r_rows, 0) AS missing_rows,
           coalesce(p_checksum, -1) IS DISTINCT FROM coalesce(r_checksum, -1)
               AS content_drift
    FROM produced p FULL OUTER JOIN received r ON p.lang = r.lang
    """


register("ext_manifest_drift", q_ext_manifest_drift, _manifest_drift_oracle())


# ---------------------------------------------------------------------------
# DoReMi domain reweighting: sources whose documents score WORSE than the
# best-scoring source (higher excess loss) get UPweighted so the next
# training round spends proportionally more gradient there — the
# one-step, reference-model-free reading of Xie et al. (NeurIPS 2023).
# Loss proxy = 1 - quality_score (single-sourced from textstats; any
# per-doc loss column drops in unchanged). Plan: one documents scan ->
# per-source partial agg (decimal-exact loss sums) -> two broadcast
# scalar folds (min loss, softmax normalizer) over the |sources|-row
# frame. Nothing after the first agg touches more than |sources| rows,
# so the 100 TB cost is the scan + one shuffle of (source, loss) pairs.
#
# Float discipline: per-doc losses sum as DECIMAL(18,6); mean = ONE
# IEEE division; exp(excess/tau) is libm so it quantizes to
# DECIMAL(18,6) via stable_round BEFORE the normalizer sum; tau = 0.25
# (division by a power of two is exact); smoothing literals are written
# identically on both sides. Emitted doubles stable_round at source.
_DOREMI_TAU = 0.25


_DOREMI_SMOOTH = 0.2


# ext_doremi_weights: DoReMi-style domain mixture reweighting (Xie et al.,
# NeurIPS 2023) — per-source excess loss -> tempered softmax ->
# uniform-smoothed mixture weights, the step that turns per-domain quality
# diagnostics into actual sampling weights.
def q_ext_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # stable_round BEFORE the decimal cast (corpus-report q6 precedent):
    # the raw loss is a product of small-integer ratios — exactly the
    # short-repr-tie class where Spark's BigDecimal cast and DuckDB's
    # binary cast can round a scale-6 half in opposite directions.
    loss = stable_round(
        F.lit(1.0) - T.quality_score("text", round_to=None), 6
    ).cast("decimal(18,6)")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(loss).alias("__loss_dec"),
    )
    stats = per.select(
        "source",
        "n_docs",
        (
            F.col("__loss_dec").cast("double") / F.col("n_docs").cast("double")
        ).alias("__mean_loss"),
    )
    tot = stats.agg(
        F.min("__mean_loss").alias("__min_loss"),
        F.count(F.lit(1)).cast("long").alias("__k"),
    )
    e = stats.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "__mean_loss",
        "__k",
        (F.col("__mean_loss") - F.col("__min_loss")).alias("__excess"),
    )
    e = e.select(
        "source",
        "n_docs",
        "__mean_loss",
        "__k",
        "__excess",
        stable_round(F.exp(F.col("__excess") / F.lit(_DOREMI_TAU)), 6)
        .cast("decimal(18,6)")
        .alias("__expterm"),
    )
    z = e.agg(F.sum("__expterm").alias("__z"))
    return e.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        stable_round(F.col("__mean_loss"), 6).alias("mean_loss"),
        stable_round(F.col("__excess"), 6).alias("excess_loss"),
        stable_round(
            F.lit(1.0 - _DOREMI_SMOOTH)
            * (F.col("__expterm").cast("double") / F.col("__z").cast("double"))
            + F.lit(_DOREMI_SMOOTH) / F.col("__k").cast("double"),
            6,
        ).alias("weight"),
    )


def _doremi_oracle() -> str:
    expterm = stable_round_sql(f"exp(excess / {_DOREMI_TAU})", 6)
    weight = stable_round_sql(
        f"{1.0 - _DOREMI_SMOOTH} * (CAST(expterm AS DOUBLE) / CAST(z AS DOUBLE))"
        f" + {_DOREMI_SMOOTH} / CAST(k AS DOUBLE)",
        6,
    )
    return f"""
    WITH {qscore_feature_ctes("doc_id, source")}, q AS (
        SELECT source,
               CAST({stable_round_sql(f"1.0 - ({_QSCORE_SQL})", 6)}
                   AS DECIMAL(18,6)) AS loss
        FROM m
    ), per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(loss) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_loss
        FROM q GROUP BY source
    ), tot AS (
        SELECT MIN(mean_loss) AS min_loss, CAST(COUNT(*) AS BIGINT) AS k
        FROM per
    ), e AS (
        SELECT source, n_docs, mean_loss, k, mean_loss - min_loss AS excess
        FROM per CROSS JOIN tot
    ), e2 AS (
        SELECT source, n_docs, mean_loss, k, excess,
               CAST({expterm} AS DECIMAL(18,6)) AS expterm
        FROM e
    ), zc AS (
        SELECT SUM(expterm) AS z FROM e2
    )
    SELECT source, n_docs,
           {stable_round_sql("mean_loss", 6)} AS mean_loss,
           {stable_round_sql("excess", 6)} AS excess_loss,
           {weight} AS weight
    FROM e2 CROSS JOIN zc
    """


register("ext_doremi_weights", q_ext_doremi_weights, _doremi_oracle())


# ---------------------------------------------------------------------------
# T5 span corruption mask planning: every 8th token position (phase
# hash-seeded per doc, so the mask pattern differs across docs but
# replays bit-identically) starts a 3-token masked span, clipped at the
# doc end. Pure map-side integer expressions over the token sequence —
# no shuffle at all until the (optional) corpus aggregate; a tensorizer
# consumes (doc_id, span starts) downstream. Mask ratio is ONE IEEE
# division of exact integers (emitted raw, quality_percentile
# precedent).
_SPAN_PERIOD = 8


_SPAN_LEN = 3


# ext_span_corruption: T5-style span-corruption mask planning (Raffel et
# al., JMLR 2020) — deterministic, hash-seeded span starts per document,
# emitted as mask statistics a tensorizer can replay.
def q_ext_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n = F.size(T.tokenize("text"))
    off = T.portable_hash60(
        F.concat(F.col("doc_id").cast("string"), F.lit("|span"))
    ) % F.lit(_SPAN_PERIOD)
    base = docs.select(
        "doc_id", n.cast("long").alias("n_tokens"), off.alias("__off")
    ).filter(F.col("n_tokens") >= 1)
    starts = F.expr(
        f"filter(sequence(CAST(0 AS BIGINT), n_tokens - 1),"
        f" i -> i % {_SPAN_PERIOD} = __off)"
    )
    withs = base.select("doc_id", "n_tokens", starts.alias("__starts"))
    return withs.select(
        "doc_id",
        "n_tokens",
        F.size("__starts").cast("long").alias("n_spans"),
        F.expr(
            f"aggregate(__starts, CAST(0 AS BIGINT),"
            f" (a, i) -> a + least(CAST({_SPAN_LEN} AS BIGINT), n_tokens - i))"
        ).alias("n_masked"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_spans",
        "n_masked",
        (
            F.col("n_masked").cast("double") / F.col("n_tokens").cast("double")
        ).alias("mask_ratio"),
    )


register(
    "ext_span_corruption",
    q_ext_span_corruption,
    f"""
    WITH tok AS (
        SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|span'),
                                   1, 15) AS BIGINT) % {_SPAN_PERIOD} AS off
        FROM documents
    ), s AS (
        SELECT doc_id, n_tokens,
               list_filter(range(0, n_tokens),
                           i -> i % {_SPAN_PERIOD} = off) AS starts
        FROM tok WHERE n_tokens >= 1
    )
    SELECT doc_id, n_tokens,
           CAST(len(starts) AS BIGINT) AS n_spans,
           list_reduce(
               [CAST(0 AS BIGINT)]
                   || list_transform(starts,
                                     i -> least(CAST({_SPAN_LEN} AS BIGINT),
                                                n_tokens - i)),
               (x, y) -> x + y) AS n_masked,
           CAST(list_reduce(
               [CAST(0 AS BIGINT)]
                   || list_transform(starts,
                                     i -> least(CAST({_SPAN_LEN} AS BIGINT),
                                                n_tokens - i)),
               (x, y) -> x + y) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
               AS mask_ratio
    FROM s
    """,
)


# ---------------------------------------------------------------------------
# First-occurrence n-gram novelty (the WIMBD / memorization diagnostic,
# Elazar et al., ICLR 2024): for each document, what fraction of its
# DISTINCT 5-grams appears in no earlier document (first-seen doc =
# min(doc_id) holder)? Low novelty = the doc is mostly re-treading
# corpus text — a boilerplate/near-dup signal that survives even when
# whole-doc dedup passes. Plan: ONE scan -> per-doc distinct grams
# (array_distinct BEFORE the explode, so a gram repeated within a doc
# costs one row) -> grams hash to 60-bit keys; the hashed frame is
# lazily localCheckpoint'ed (mixture_kl precedent) so min(doc_id) per
# hash is a groupBy (map-side partial agg collapses the hottest
# boilerplate gram BEFORE the shuffle) joined back on __h — NOT a
# partition window, which at 100x scale would funnel every row of the
# hottest 5-gram into one unsplittable sort task;
# the join-back probe side is AQE-skew-splittable. All
# exchanges carry 8-byte keys (~16 bytes/row), never gram strings.
# Novelty ratio is one IEEE division of exact counts (emitted raw,
# quality_percentile precedent); hash collisions are deterministic and
# identical in both engines (the md5-head hash is the oracle's own),
# so the check replays bit-for-bit.
_NOV_N = 5


# ext_ngram_novelty: per-document first-occurrence n-gram novelty (the
# WIMBD-style "how much of this doc is already in the corpus" memorization
# diagnostic) — distinct 5-grams hashed to 60-bit keys, first-seen doc =
# min(doc_id) per gram.
def q_ext_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = T.tokenize("text")
    grams = F.expr(
        f"transform(sequence(1, size(__t) - {_NOV_N - 1}), "
        f"i -> concat_ws(' ', slice(__t, i, {_NOV_N})))"
    )
    g = (
        docs.select("doc_id", toks.alias("__t"))
        .filter(F.size("__t") >= _NOV_N)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("__g"))
        .select("doc_id", T.portable_hash60(F.col("__g")).alias("__h"))
    ).localCheckpoint(eager=False)
    first = g.groupBy("__h").agg(F.min("doc_id").alias("__first_doc"))
    per = g.join(first, "__h").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(
            F.when(F.col("__first_doc") == F.col("doc_id"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_novel"),
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_grams").cast("double"))
        .alias("novelty_ratio"),
    )


register(
    "ext_ngram_novelty",
    q_ext_ngram_novelty,
    f"""
    WITH tok AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), g AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(u.g), 1, 15) AS BIGINT) AS h
        FROM tok,
             unnest(list_distinct(
                 list_transform(range(1, len(t) - {_NOV_N - 1} + 1),
                     i -> array_to_string(
                         list_slice(t, i, i + {_NOV_N - 1}), ' ')))) u(g)
        WHERE len(t) >= {_NOV_N}
    ), first AS (
        SELECT h, MIN(doc_id) AS first_doc FROM g GROUP BY h
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty_ratio
    FROM g JOIN first f USING (h)
    GROUP BY g.doc_id
    """,
)


# ---------------------------------------------------------------------------
# ext_mixture_kl: per-source KL divergence (bits) of the token unigram
# distribution vs the corpus distribution — the drift metric behind
# data-mixing decisions (which source is lexically farthest from the blend
# it feeds).
#
# Per-source lexical drift: KL(P_source || P_corpus) in bits over token
# unigram distributions — the statistic behind mixture rebalancing
# (a source with high KL is lexically far from the blend it feeds;
# DoReMi reweights by loss, this is the distribution-level twin). Every
# token a source emits is by construction in the corpus, so no
# zero-probability terms. Plan: ONE corpus scan -> (source, token)
# partial agg, LAZY-CHECKPOINTED (hll_union precedent) because four
# downstream frames (token totals, source totals, grand total, the
# term join) all reference it — without the checkpoint each branch
# would re-scan and re-explode the corpus; with it the vocab-sized
# frame (<= |sources| x |vocab| rows) materializes once. The per-token
# join is the only big shuffle; per-source totals broadcast.
# Float discipline: probabilities are
# single IEEE divisions of exact counts (cross-engine exact); the libm
# log2 term quantizes to DECIMAL(18,6) via stable_round BEFORE the sum
# (pmi/label_balance precedent); the final cast decimal->double is
# exact-rounded on both engines.
def q_ext_mixture_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(T.tokenize("text")).alias("__w"))
        .select("source", F.lower("__w").alias("__w"))
        .groupBy("source", "__w")
        .agg(F.count(F.lit(1)).cast("long").alias("__c_st"))
    ).localCheckpoint(eager=False)
    src = st.groupBy("source").agg(
        F.sum("__c_st").cast("long").alias("__n_s"),
        F.count(F.lit(1)).cast("long").alias("__vocab_s"),
    )
    tok = st.groupBy("__w").agg(F.sum("__c_st").cast("long").alias("__c_t"))
    tot = src.agg(F.sum("__n_s").cast("long").alias("__n"))
    p_s = F.col("__c_st").cast("double") / F.col("__n_s").cast("double")
    p_c = F.col("__c_t").cast("double") / F.col("__n").cast("double")
    term = (
        stable_round(p_s * F.log2(p_s / p_c), 6).cast("decimal(18,6)")
    )
    j = (
        st.join(tok, "__w")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
    )
    return (
        j.groupBy("source")
        .agg(
            F.max("__n_s").alias("n_tokens"),
            F.max("__vocab_s").alias("vocab_size"),
            F.sum(term).alias("__kl_dec"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab_size",
            F.col("__kl_dec").cast("double").alias("kl_bits"),
        )
    )


register(
    "ext_mixture_kl",
    q_ext_mixture_kl,
    f"""
    WITH st AS (
        SELECT source, lower(u.w) AS w, CAST(COUNT(*) AS BIGINT) AS c_st
        FROM (SELECT source, {_TOKS} AS t FROM documents), unnest(t) u(w)
        GROUP BY source, lower(u.w)
    ), src AS (
        SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s,
               CAST(COUNT(*) AS BIGINT) AS vocab_s
        FROM st GROUP BY source
    ), tok AS (
        SELECT w, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY w
    ), tot AS (
        SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM src
    ), terms AS (
        SELECT st.source, src.n_s, src.vocab_s,
               CAST({stable_round_sql(
                   "(CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))"
                   " * log2((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))"
                   " / (CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE)))", 6)}
                   AS DECIMAL(18,6)) AS term
        FROM st
        JOIN tok USING (w)
        JOIN src USING (source)
        CROSS JOIN tot
    )
    SELECT source, MAX(n_s) AS n_tokens, MAX(vocab_s) AS vocab_size,
           CAST(SUM(term) AS DOUBLE) AS kl_bits
    FROM terms GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# Per-source PII incidence audit — the measurement half of ext_redact's
# scrub, sharing its exact REDACT_PATTERNS so the two can never drift.
# PII is synthesized deterministically onto every third document so the
# counters are exercised on known ground truth. One narrow regexp pass;
# one partial-aggregated groupBy(source).
_PII_EMAIL = T.REDACT_PATTERNS[0][0]


_PII_NUM = T.REDACT_PATTERNS[1][0]


# ext_pii_audit: per-source PII incidence rates (emails / long digit runs)
# using the SAME patterns ``ext_redact`` scrubs with — the measurement
# half of the redaction pair.
def q_ext_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    salt = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit(" reach u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example or 555"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 7, "0"),
        ),
    ).otherwise(F.lit(""))
    t = F.concat(F.coalesce(F.col("text"), F.lit("")), salt)
    emails = F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), F.lit(0)))
    nums = F.size(F.regexp_extract_all(t, F.lit(_PII_NUM), F.lit(0)))
    per_doc = docs.select(
        "source",
        emails.cast("long").alias("__e"),
        nums.cast("long").alias("__m"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(((F.col("__e") + F.col("__m")) > 0).cast("int"))
        .cast("long")
        .alias("pii_docs"),
        F.sum("__e").cast("long").alias("n_emails"),
        F.sum("__m").cast("long").alias("n_numbers"),
    )
    return agg.select(
        "source",
        "n_docs",
        "pii_docs",
        "n_emails",
        "n_numbers",
        (
            (F.col("n_emails") + F.col("n_numbers")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("pii_per_doc"),
    )


def _pii_oracle() -> str:
    return f"""
    WITH s AS (
        SELECT source,
               coalesce(text, '')
                 || CASE WHEN doc_id % 3 = 0
                         THEN ' reach u' || CAST(doc_id AS VARCHAR)
                              || '@mail.example or 555'
                              || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0')
                         ELSE '' END AS t
        FROM documents
    ), c AS (
        SELECT source,
               CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
                   AS __e,
               CAST(len(regexp_extract_all(t, '{_PII_NUM}')) AS BIGINT) AS __m
        FROM s
    ), a AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN __e + __m > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS pii_docs,
               CAST(SUM(__e) AS BIGINT) AS n_emails,
               CAST(SUM(__m) AS BIGINT) AS n_numbers
        FROM c GROUP BY source
    )
    SELECT source, n_docs, pii_docs, n_emails, n_numbers,
           CAST(n_emails + n_numbers AS DOUBLE) / CAST(n_docs AS DOUBLE)
               AS pii_per_doc
    FROM a
    """


register("ext_pii_audit", q_ext_pii_audit, _pii_oracle())


# ===========================================================================
# Corpus-shape text diagnostics.

# ---------------------------------------------------------------------------
# Zipf slope: OLS fit of ln(tf) on ln(rank) over the top-K tokens
# (Zipf 1949; the lexical-diversity companion to ext_hill_tail's value
# tail index). Corpus work = the one token agg; the fit runs on K=100
# host-bounded rows with ln terms quantized to DECIMAL(18,6), exact
# decimal moment sums, and a closed-form slope that is one fixed IEEE
# tail quantized at the source.
_ZIPF_K = 100


def q_ext_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(T.tokenize("text")).alias("token"))
    agg = tok.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    top = agg.orderBy(F.col("tf").desc(), "token").limit(_ZIPF_K)
    w = Window.orderBy(F.col("tf").desc(), "token")
    ranked = top.withColumn("rank", F.row_number().over(w))
    x6 = stable_round(F.log(F.col("rank").cast("double")), 6).cast(
        "decimal(18,6)"
    )
    y6 = stable_round(F.log(F.col("tf").cast("double")), 6).cast(
        "decimal(18,6)"
    )
    m = ranked.select(x6.alias("x"), y6.alias("y")).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    kd = F.col("k").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    den = kd * sxx - sx * sx
    slope = (kd * sxy - sx * sy) / den
    intercept = (sy - slope * sx) / kd
    ok = (F.col("k") >= 2) & (den > 0)
    return m.select(
        "k",
        F.when(ok, stable_round(slope, 6)).alias("zipf_slope"),
        F.when(ok, stable_round(intercept, 6)).alias("zipf_intercept"),
    )


def _zipf_oracle() -> str:
    x6 = stable_round_sql("ln(CAST(rank AS DOUBLE))", 6)
    y6 = stable_round_sql("ln(CAST(tf AS DOUBLE))", 6)
    kd = "CAST(k AS DOUBLE)"
    sx = "CAST(sx AS DOUBLE)"
    sy = "CAST(sy AS DOUBLE)"
    sxy = "CAST(sxy AS DOUBLE)"
    sxx = "CAST(sxx AS DOUBLE)"
    den = f"({kd} * {sxx} - {sx} * {sx})"
    slope = f"(({kd} * {sxy} - {sx} * {sy}) / {den})"
    intercept = f"(({sy} - {slope} * {sx}) / {kd})"
    return f"""
    WITH tok AS (
        SELECT unnest({_TOKS}) AS token FROM documents
    ), agg AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1
    ), r AS (
        SELECT tf,
               CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS INTEGER)
                   AS rank
        FROM agg ORDER BY tf DESC, token LIMIT {_ZIPF_K}
    ), p AS (
        SELECT CAST({x6} AS DECIMAL(18,6)) AS x,
               CAST({y6} AS DECIMAL(18,6)) AS y
        FROM r
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM p
    )
    SELECT k,
           CASE WHEN k >= 2 AND {den} > 0
                THEN {stable_round_sql(slope, 6)} END AS zipf_slope,
           CASE WHEN k >= 2 AND {den} > 0
                THEN {stable_round_sql(intercept, 6)} END AS zipf_intercept
    FROM m
    """


register("ext_zipf_fit", q_ext_zipf_fit, _zipf_oracle())


# ---------------------------------------------------------------------------
# Token burstiness (Church & Gale 1995): variance-to-mean ratio of each
# top token's per-document count over ALL docs (absent docs contribute
# zero to both moments, so the (doc, token) counts suffice). With exact
# integer moments, VMR = (N*s2 - s1^2) / (N*s1) — both sides exact
# DECIMAL(38,0) (N*s2 can pass 2^63 at corpus scale), one IEEE
# division. VMR ~ 1 is Poisson scatter; >> 1 marks content words that
# clump within documents.
_BURST_K = 50


def q_ext_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_docs_df = docs.agg(F.count(F.lit(1)).cast("long").alias("__nd"))
    tok = docs.select("doc_id", F.explode(T.tokenize("text")).alias("token"))
    dt = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    per = dt.groupBy("token").agg(
        F.sum("__c").cast("long").alias("tf"),
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(F.col("__c").cast("decimal(38,0)") * F.col("__c")).alias(
            "__s2"
        ),
    )
    top = per.orderBy(F.col("tf").desc(), "token").limit(_BURST_K)
    j = top.crossJoin(F.broadcast(n_docs_df))
    num = (
        F.col("__nd").cast("decimal(38,0)") * F.col("__s2")
        - F.col("tf").cast("decimal(38,0)") * F.col("tf")
    )
    den = F.col("__nd").cast("decimal(38,0)") * F.col("tf")
    return j.select(
        "token",
        "tf",
        "df",
        (num.cast("double") / den.cast("double")).alias("vmr"),
    )


def _burstiness_oracle() -> str:
    from be_analytic_etl_spark.functions.rounding import exact_dec_double_sql

    num = (
        "CAST(__nd AS DECIMAL(38,0)) * __s2"
        " - CAST(tf AS DECIMAL(38,0)) * tf"
    )
    den = "CAST(__nd AS DECIMAL(38,0)) * tf"
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ), dt AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS __c
        FROM tok GROUP BY 1, 2
    ), per AS (
        SELECT token, CAST(SUM(__c) AS BIGINT) AS tf,
               CAST(COUNT(*) AS BIGINT) AS df,
               SUM(CAST(__c AS DECIMAL(38,0)) * __c) AS __s2
        FROM dt GROUP BY 1
    ), top AS (
        SELECT * FROM per ORDER BY tf DESC, token LIMIT {_BURST_K}
    ), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS __nd FROM documents)
    SELECT token, tf, df,
           {exact_dec_double_sql(num)} / {exact_dec_double_sql(den)} AS vmr
    FROM top, nd
    """


register("ext_burstiness", q_ext_burstiness, _burstiness_oracle())


# ---------------------------------------------------------------------------
# Tokenizer fertility per language: BPE-ish subword tokens per
# whitespace word and chars per subword token — the tokenizer-cost lens
# multilingual curation weighs sources by (fertility >> 1 languages pay
# more context budget per word). One scan, one groupBy(lang); all sums
# exact BIGINT; each rate is one IEEE division.


def q_ext_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(T.token_count("text").cast("long")).cast("long").alias("__w"),
        F.sum(T.bpe_ish_token_count("text").cast("long"))
        .cast("long")
        .alias("__b"),
        F.sum(T.char_count("text").cast("long")).cast("long").alias("__ch"),
    )
    return per.select(
        "lang",
        "n_docs",
        F.col("__w").alias("n_words"),
        F.col("__b").alias("n_subwords"),
        F.col("__ch").alias("n_chars"),
        F.when(
            F.col("__w") > 0,
            F.col("__b").cast("double") / F.col("__w").cast("double"),
        ).alias("fertility"),
        F.when(
            F.col("__b") > 0,
            F.col("__ch").cast("double") / F.col("__b").cast("double"),
        ).alias("chars_per_subword"),
    )


def _fertility_oracle() -> str:
    return f"""
    WITH tok AS (
        SELECT lang, coalesce(text, '') AS t, {_TOKS} AS toks
        FROM documents
    ), per AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(toks)) AS BIGINT) AS __w,
               CAST(SUM(len(regexp_extract_all(t, '{T.BPE_ISH_PATTERN}')))
                    AS BIGINT) AS __b,
               CAST(SUM(length(t)) AS BIGINT) AS __ch
        FROM tok GROUP BY 1
    )
    SELECT lang, n_docs,
           __w AS n_words, __b AS n_subwords, __ch AS n_chars,
           CASE WHEN __w > 0
                THEN CAST(__b AS DOUBLE) / CAST(__w AS DOUBLE)
                END AS fertility,
           CASE WHEN __b > 0
                THEN CAST(__ch AS DOUBLE) / CAST(__b AS DOUBLE)
                END AS chars_per_subword
    FROM per
    """


register("ext_token_fertility", q_ext_token_fertility, _fertility_oracle())


# ---------------------------------------------------------------------------
# ext_gini_tokens: Gini coefficient (1912) of per-document token counts —
# DOCUMENT-level corpus concentration via exact tie-block rank algebra on
# the token-count histogram (``ext_source_gini`` is the 20-row
# source-level read; this one answers "do 10% of documents hold most of
# the tokens" without ranking the corpus).
#
# Gini coefficient of per-document token counts — corpus concentration
# ("do 10% of documents hold 90% of the tokens"). With the token-count
# histogram sorted ascending, a tie block of count c at value v
# starting after cumulative a contributes v * (2*c*a + c*(c+1)) to
# 2*sum(i * x_i) — all exact DECIMAL — and
# G = 2*sum(i*x_i) / (n * total) - (n + 1) / n. One corpus groupBy;
# the cumulative window runs on the value-domain-bounded histogram.


def q_ext_gini_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = (
        docs.select(F.size(T.tokenize("text")).cast("long").alias("__v"))
        .groupBy("__v")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    wb = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    cum = h.select(
        "__v",
        "__c",
        F.coalesce(F.sum("__c").over(wb), F.lit(0)).cast("long").alias("__a"),
    )
    agg = cum.agg(
        F.sum("__c").cast("long").alias("n_docs"),
        F.sum(F.col("__v").cast("decimal(38,0)") * F.col("__c")).alias("__tot"),
        F.sum(
            F.col("__v").cast("decimal(38,0)")
            * (
                F.lit(2) * F.col("__c") * F.col("__a")
                + F.col("__c") * (F.col("__c") + 1)
            )
        ).alias("__wsum2"),
    )
    nd = F.col("n_docs").cast("double")
    gini = F.col("__wsum2").cast("double") / (
        nd * F.col("__tot").cast("double")
    ) - (nd + F.lit(1.0)) / nd
    return agg.select(
        "n_docs",
        F.col("__tot").cast("long").alias("total_tokens"),
        F.when(F.col("__tot") > 0, gini).alias("gini"),
    )


def _gini_oracle() -> str:
    nd = "CAST(n_docs AS DOUBLE)"
    gini = (
        f"({exact_dec_double_sql('__wsum2')}"
        f" / ({nd} * {exact_dec_double_sql('__tot')})"
        f" - ({nd} + 1.0) / {nd})"
    )
    return f"""
    WITH h AS (
        SELECT CAST(len({_TOKS}) AS BIGINT) AS __v,
               CAST(COUNT(*) AS BIGINT) AS __c
        FROM documents GROUP BY 1
    ), cum AS (
        SELECT __v, __c,
               CAST(COALESCE(SUM(__c) OVER (ORDER BY __v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS __a
        FROM h
    ), a AS (
        SELECT CAST(SUM(__c) AS BIGINT) AS n_docs,
               SUM(CAST(__v AS DECIMAL(38,0)) * __c) AS __tot,
               SUM(CAST(__v AS DECIMAL(38,0))
                   * (2 * __c * __a + __c * (__c + 1))) AS __wsum2
        FROM cum
    )
    SELECT n_docs,
           CAST(__tot AS BIGINT) AS total_tokens,
           CASE WHEN __tot > 0 THEN {gini} END AS gini
    FROM a
    """


register("ext_gini_tokens", q_ext_gini_tokens, _gini_oracle())


# ---------------------------------------------------------------------------
# ext_token_lorenz: the Lorenz curve behind that Gini — cumulative token
# share at each document-count decile, exact threshold-rank selection over
# the same bounded histogram.
#
# Lorenz curve of token mass over documents — the curve behind
# ext_gini_tokens: at each document-count decile (poorest 10%, 20%, ...
# of documents by token count), the share of total tokens they hold.
# The threshold rank r_d = floor(n*d/10) resolves against the bounded
# cumulative histogram (full tie blocks below + a partial block), so
# every mass is an exact DECIMAL and each share is one IEEE division.
# The decile-to-block lookup is a 10 x |values| bounded non-equi join
# (left join so the frame is always exactly 10 rows).


def q_ext_token_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = (
        docs.select(F.size(T.tokenize("text")).cast("long").alias("__v"))
        .groupBy("__v")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    w = Window.orderBy("__v")
    wall = Window.partitionBy()
    cum = h.select(
        "__v",
        "__c",
        F.sum("__c").over(w).cast("long").alias("__cum"),
        F.coalesce(
            F.sum(F.col("__v").cast("decimal(38,0)") * F.col("__c")).over(
                Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__mb"),
        F.sum("__c").over(wall).cast("long").alias("__n"),
        F.sum(F.col("__v").cast("decimal(38,0)") * F.col("__c"))
        .over(wall)
        .alias("__tot"),
    ).localCheckpoint(eager=False)  # read by the totals agg AND the decile join
    deciles = _t(spark, sf_dir, "documents").sparkSession.range(1, 11).select(
        F.col("id").cast("int").alias("decile")
    )
    tot = cum.agg(
        F.max("__n").cast("long").alias("__n"), F.max("__tot").alias("__tot")
    )
    d = deciles.crossJoin(F.broadcast(tot)).select(
        "decile",
        "__n",
        "__tot",
        F.floor(F.col("__n") * F.col("decile") / 10).cast("long").alias("__r"),
    )
    j = d.join(
        F.broadcast(cum.select("__v", "__c", "__cum", "__mb")),
        (F.col("__cum") - F.col("__c") < F.col("__r"))
        & (F.col("__cum") >= F.col("__r")),
        "left",
    )
    mass = F.col("__mb") + (
        F.col("__r") - (F.col("__cum") - F.col("__c"))
    ).cast("decimal(38,0)") * F.col("__v")
    return j.select(
        "decile",
        F.col("__r").alias("rank"),
        F.when(
            F.col("__tot") > 0,
            F.coalesce(mass, F.lit(0).cast("decimal(38,0)")).cast("double")
            / F.col("__tot").cast("double"),
        ).alias("cum_token_share"),
    )


def _lorenz_oracle() -> str:
    mass = "(__mb + CAST(__r - (__cum - __c) AS DECIMAL(38,0)) * __v)"
    return f"""
    WITH h AS (
        SELECT CAST(len({_TOKS}) AS BIGINT) AS __v,
               CAST(COUNT(*) AS BIGINT) AS __c
        FROM documents GROUP BY 1
    ), cum AS (
        SELECT __v, __c,
               CAST(SUM(__c) OVER (ORDER BY __v) AS BIGINT) AS __cum,
               COALESCE(SUM(CAST(__v AS DECIMAL(38,0)) * __c) OVER (
                   ORDER BY __v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   CAST(0 AS DECIMAL(38,0))) AS __mb,
               CAST(SUM(__c) OVER () AS BIGINT) AS __n,
               SUM(CAST(__v AS DECIMAL(38,0)) * __c) OVER () AS __tot
        FROM h
    ), t AS (
        SELECT CAST(MAX(__n) AS BIGINT) AS __n, MAX(__tot) AS __tot FROM cum
    ), d AS (
        SELECT CAST(r.range AS INTEGER) AS decile, t.__n, t.__tot,
               CAST(t.__n * r.range // 10 AS BIGINT) AS __r
        FROM range(1, 11) r, t
    )
    SELECT d.decile, d.__r AS rank,
           CASE WHEN d.__tot > 0
                THEN {exact_dec_double_sql(f"COALESCE({mass}, 0)")}
                     / {exact_dec_double_sql("d.__tot")}
                END AS cum_token_share
    FROM d LEFT JOIN cum
      ON cum.__cum - cum.__c < d.__r AND cum.__cum >= d.__r
    """


register("ext_token_lorenz", q_ext_token_lorenz, _lorenz_oracle())


# ---------------------------------------------------------------------------
# ext_chao1_vocab: Chao1 lower-bound vocabulary-richness estimate (Chao
# 1984, bias-corrected form) + Good-Turing coverage (Good 1953) from the
# token frequency-of-frequencies — "how much vocabulary has this corpus
# NOT seen yet", the sampling-completeness companion to the Zipf/Heaps
# diagnostics.
#
# Chao1 vocabulary-richness estimate + Good-Turing coverage from the
# token frequency-of-frequencies: ONE explode -> token-count groupBy
# (shuffles tokens once), one count-histogram groupBy (bounded by the
# distinct frequency values), one fold. Chao1 (bias-corrected, Chao
# 1984): V + f1*(f1-1) / (2*(f2+1)) — the division runs in DOUBLE as a
# single fixed IEEE expression (f1^2 can exceed 2^53 at extreme vocab,
# where BOTH engines evaluate the identical expression). Good-Turing
# unseen-mass estimate (Good 1953): f1/N, normalized in [0,1], 12dp.


def q_ext_chao1_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokenize("text")).alias("__tok"))
        .groupBy("__tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    ff = counts.groupBy("__c").agg(F.count(F.lit(1)).cast("long").alias("__ff"))
    fold = ff.agg(
        F.sum("__ff").cast("long").alias("vocab_size"),
        F.sum(F.col("__c") * F.col("__ff")).cast("long").alias("total_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("__c") == 1, F.col("__ff"))), F.lit(0)
        ).cast("long").alias("f1"),
        F.coalesce(
            F.sum(F.when(F.col("__c") == 2, F.col("__ff"))), F.lit(0)
        ).cast("long").alias("f2"),
    )
    f1d = F.col("f1").cast("double")
    f2d = F.col("f2").cast("double")
    chao1 = F.col("vocab_size").cast("double") + f1d * (f1d - F.lit(1.0)) / (
        F.lit(2.0) * (f2d + F.lit(1.0))
    )
    coverage = F.lit(1.0) - f1d / F.col("total_tokens").cast("double")
    return fold.select(
        "vocab_size",
        "total_tokens",
        "f1",
        "f2",
        stable_round(chao1, 6).alias("chao1"),
        F.when(
            F.col("total_tokens") > 0, stable_round(coverage, 12)
        ).alias("gt_coverage"),
    )


def _chao1_oracle() -> str:
    chao1 = (
        "(CAST(vocab_size AS DOUBLE) + CAST(f1 AS DOUBLE)"
        " * (CAST(f1 AS DOUBLE) - 1.0)"
        " / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)))"
    )
    cov = "(1.0 - CAST(f1 AS DOUBLE) / CAST(total_tokens AS DOUBLE))"
    return f"""
    WITH toks AS (
        SELECT unnest({_TOKS}) AS __tok FROM documents
    ),
    counts AS (
        SELECT __tok, CAST(COUNT(*) AS BIGINT) AS __c FROM toks GROUP BY 1
    ),
    ff AS (
        SELECT __c, CAST(COUNT(*) AS BIGINT) AS __ff FROM counts GROUP BY 1
    ),
    fold AS (
        SELECT CAST(SUM(__ff) AS BIGINT) AS vocab_size,
               CAST(SUM(__c * __ff) AS BIGINT) AS total_tokens,
               CAST(COALESCE(SUM(CASE WHEN __c = 1 THEN __ff END), 0)
                    AS BIGINT) AS f1,
               CAST(COALESCE(SUM(CASE WHEN __c = 2 THEN __ff END), 0)
                    AS BIGINT) AS f2
        FROM ff
    )
    SELECT vocab_size, total_tokens, f1, f2,
           {stable_round_sql(chao1, 6)} AS chao1,
           CASE WHEN total_tokens > 0
                THEN {stable_round_sql(cov, 12)} END AS gt_coverage
    FROM fold
    """


register("ext_chao1_vocab", q_ext_chao1_vocab, _chao1_oracle())


_HEAPS_BLOCKS = 10


# ---------------------------------------------------------------------------
# ext_heaps_law: Heaps'/Herdan's law fit (Heaps 1978) — vocabulary size
# V(N) ~ K * N^beta over ten doc-id prefix checkpoints. The checkpoints
# are a FIXED value grid over doc_id (block = floor(id * 10 / (max_id +
# 1)) — map-only, no global sort), types-per-block is first-occurrence
# counting (min block per token, the ngram-novelty discipline), and the
# log-log OLS follows the ext_zipf_fit playbook: both logs stable-rounded
# at 6dp into exact DECIMAL BEFORE the moment sums, so the fit is
# bit-reproducible cross-engine (libm divergence class 1).
#
# Heaps' law: vocabulary growth V(N) over doc-id prefix checkpoints.


def q_ext_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("__mx"))
    tok = (
        docs.crossJoin(F.broadcast(mx))
        .select(
            # integer `div`, not double /: doc_id * 10 can pass 2^53 at
            # extreme corpus sizes where the double quotient mis-floors
            F.expr(
                f"CAST(LEAST({_HEAPS_BLOCKS - 1},"
                f" (doc_id * {_HEAPS_BLOCKS}) DIV (__mx + 1)) AS INT)"
            ).alias("__blk"),
            F.explode(tokenize("text")).alias("__tok"),
        )
        .localCheckpoint(eager=False)  # feeds tokens-per-block AND first-seen
    )
    per_blk = tok.groupBy("__blk").agg(
        F.count(F.lit(1)).cast("long").alias("__toks")
    )
    first = (
        tok.groupBy("__tok")
        .agg(F.min("__blk").alias("__fb"))
        .groupBy("__fb")
        .agg(F.count(F.lit(1)).cast("long").alias("__types"))
    )
    wcum = Window.orderBy("__blk").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        per_blk.join(first, per_blk["__blk"] == first["__fb"], "left")
        .select(
            per_blk["__blk"],
            F.sum("__toks").over(wcum).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("__types"), F.lit(0)))
            .over(wcum)
            .cast("long")
            .alias("cum_types"),
        )
        .filter(F.col("cum_tokens") > 0)
    )
    x6 = stable_round(F.log(F.col("cum_tokens").cast("double")), 6).cast(
        "decimal(18,6)"
    )
    y6 = stable_round(F.log(F.col("cum_types").cast("double")), 6).cast(
        "decimal(18,6)"
    )
    m = cum.select(x6.alias("x"), y6.alias("y")).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    kd = F.col("k").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    den = kd * sxx - sx * sx
    # class-8 guard: the division is NULL-safe itself (subexpression
    # hoisting can evaluate it outside the `ok` gate)
    beta = (kd * sxy - sx * sy) / F.when(den > 0, den)
    log_k = (sy - beta * sx) / kd
    ok = (F.col("k") >= 2) & (den > 0)
    return m.select(
        F.col("k").alias("n_checkpoints"),
        F.when(ok, stable_round(beta, 6)).alias("heaps_beta"),
        F.when(ok, stable_round(log_k, 6)).alias("heaps_log_k"),
    )


def _heaps_oracle() -> str:
    x6 = stable_round_sql("ln(CAST(cum_tokens AS DOUBLE))", 6)
    y6 = stable_round_sql("ln(CAST(cum_types AS DOUBLE))", 6)
    kd = "CAST(k AS DOUBLE)"
    sx = "CAST(sx AS DOUBLE)"
    sy = "CAST(sy AS DOUBLE)"
    sxy = "CAST(sxy AS DOUBLE)"
    sxx = "CAST(sxx AS DOUBLE)"
    den = f"({kd} * {sxx} - {sx} * {sx})"
    beta = (
        f"(({kd} * {sxy} - {sx} * {sy})"
        f" / (CASE WHEN {den} > 0 THEN {den} END))"
    )
    log_k = f"(({sy} - {beta} * {sx}) / {kd})"
    return f"""
    WITH mx AS (SELECT MAX(doc_id) AS __mx FROM documents),
    tok AS (
        SELECT CAST(LEAST({_HEAPS_BLOCKS - 1},
                          (doc_id * {_HEAPS_BLOCKS}) // (mx.__mx + 1))
                    AS INTEGER) AS __blk,
               unnest({_TOKS}) AS __tok
        FROM documents, mx
    ),
    per_blk AS (
        SELECT __blk, CAST(COUNT(*) AS BIGINT) AS __toks FROM tok GROUP BY 1
    ),
    first AS (
        SELECT __fb, CAST(COUNT(*) AS BIGINT) AS __types
        FROM (SELECT __tok, MIN(__blk) AS __fb FROM tok GROUP BY 1)
        GROUP BY 1
    ),
    cum AS (
        SELECT p.__blk,
               CAST(SUM(p.__toks) OVER (ORDER BY p.__blk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens,
               CAST(SUM(COALESCE(f.__types, 0)) OVER (ORDER BY p.__blk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_types
        FROM per_blk p LEFT JOIN first f ON p.__blk = f.__fb
    ),
    pts AS (
        SELECT CAST({x6} AS DECIMAL(18,6)) AS x,
               CAST({y6} AS DECIMAL(18,6)) AS y
        FROM cum WHERE cum_tokens > 0
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM pts
    )
    SELECT k AS n_checkpoints,
           CASE WHEN k >= 2 AND {den} > 0
                THEN {stable_round_sql(beta, 6)} END AS heaps_beta,
           CASE WHEN k >= 2 AND {den} > 0
                THEN {stable_round_sql(log_k, 6)} END AS heaps_log_k
    FROM m
    """


register("ext_heaps_law", q_ext_heaps_law, _heaps_oracle())


# ---------------------------------------------------------------------------
# ext_pipeline_e2e: the end-to-end curation chain driven through the
# pipeline COMPOSER (pipeline.run_pipeline), value-checked against the
# recursive-CTE oracle ``PIPELINE_ORACLE_SQL``.
# Its spec is q_ext_pipeline_spec.


def q_ext_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_ext_pipeline_spec(spark, sf_dir)


def _pipeline_e2e_oracle() -> str:
    return PIPELINE_ORACLE_SQL


register("ext_pipeline_e2e", q_ext_pipeline_e2e, _pipeline_e2e_oracle())


# ---------------------------------------------------------------------------
# Gopher rule panel. Rules (Rae et al. 2021, A1.1, bounds adapted to
# the synthetic corpus scale): word count in [10, 100000]; mean word
# length in [3, 10]; symbol (non-alphanumeric, non-space) character
# ratio <= 0.1; >= 80% of words contain an alphabetic character;
# document contains >= 2 distinct English stop tokens.

_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


# ext_gopher_rules: the Gopher/MassiveText quality-filter panel (Rae et
# al., "Scaling Language Models: ... Gopher", 2021, Table A1): per-rule
# violation counts for word-count bounds, mean-word-length bounds, symbol
# ratio, alphabetic-word ratio, and the English stop-token requirement,
# plus the all-rules pass rate — the rule-based companion to
# ``ext_c4_filter``'s boilerplate rules and ``ext_quality_classifier``'s
# learned score.
def q_ext_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import tokenize

    docs = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    toks = docs.select(
        tokenize("text").alias("__tk"),
        F.length(txt).alias("__nc"),
        F.length(
            # explicit whitespace class, not \s: Java's \s includes \x0B
            # (vertical tab) while RE2's does not
            F.regexp_replace(txt, "[A-Za-z0-9" + WS_CHARS + "]", "")
        ).alias("__sym"),
    ).select(
        F.size("__tk").alias("__nt"),
        F.expr(
            "aggregate(__tk, 0L, (acc, t) -> acc + length(t))"
        ).alias("__tchars"),
        F.expr(
            "size(filter(__tk, t -> t rlike '[A-Za-z]'))"
        ).alias("__alpha"),
        F.size(
            F.array_intersect(
                "__tk",
                F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
            )
        ).alias("__stops"),
        "__nc",
        "__sym",
    )
    # each rule is an exact-integer predicate: ratios compare cross-
    # multiplied (10 * sym <= nc, 10 * alpha >= 8 * nt, 3nt <= chars
    # <= 10nt) so no division ever runs.
    r_wc = (F.col("__nt") >= 10) & (F.col("__nt") <= 100000)
    r_mwl = (F.col("__tchars") >= 3 * F.col("__nt")) & (
        F.col("__tchars") <= 10 * F.col("__nt")
    )
    r_sym = F.lit(10) * F.col("__sym") <= F.col("__nc")
    r_alpha = F.lit(10) * F.col("__alpha") >= F.lit(8) * F.col("__nt")
    r_stop = F.col("__stops") >= 2
    rules = {
        "wordcount": r_wc,
        "mean_word_len": r_mwl,
        "symbol_ratio": r_sym,
        "alpha_words": r_alpha,
        "stop_tokens": r_stop,
    }
    flags = toks.select(
        *[
            F.coalesce(c, F.lit(False)).cast("int").alias(f"__{n}")
            for n, c in rules.items()
        ]
    )
    passes = F.lit(1)
    for n in rules:
        passes = passes * F.col(f"__{n}")
    agg = flags.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum(F.col(f"__{n}")).cast("long").alias(f"pass_{n}")
            for n in rules
        ],
        F.sum(passes).cast("long").alias("pass_all"),
    )
    rate = F.col("pass_all").cast("double") / F.when(
        F.col("n_docs") > 0, F.col("n_docs")
    ).cast("double")
    return agg.select(
        "n_docs",
        *[f"pass_{n}" for n in rules],
        "pass_all",
        stable_round(rate, 12).alias("pass_rate"),
    )


def _gopher_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)
    rate = stable_round_sql(
        "(CAST(pass_all AS DOUBLE)"
        " / CAST(CASE WHEN n_docs > 0 THEN n_docs END AS DOUBLE))",
        12,
    )
    return f"""
    WITH t AS (
        SELECT {_TOKS.replace("text", "COALESCE(text, '')")} AS tk,
               len(COALESCE(text, '')) AS nc,
               len(regexp_replace(COALESCE(text, ''),
                                  '[A-Za-z0-9{WS_CHARS}]', '', 'g')) AS sym
        FROM documents
    ), m AS (
        SELECT len(tk) AS nt,
               list_reduce([0] || list_transform(tk, x -> len(x)),
                           (a, b) -> a + b) AS tchars,
               len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
                   AS alpha,
               len(list_intersect(tk, [{stops}])) AS stops,
               nc, sym
        FROM t
    ), flags AS (
        SELECT CASE WHEN COALESCE(nt >= 10 AND nt <= 100000, FALSE)
                    THEN 1 ELSE 0 END AS f_wc,
               CASE WHEN COALESCE(tchars >= 3 * nt AND tchars <= 10 * nt,
                                  FALSE) THEN 1 ELSE 0 END AS f_mwl,
               CASE WHEN COALESCE(10 * sym <= nc, FALSE)
                    THEN 1 ELSE 0 END AS f_sym,
               CASE WHEN COALESCE(10 * alpha >= 8 * nt, FALSE)
                    THEN 1 ELSE 0 END AS f_alpha,
               CASE WHEN COALESCE(stops >= 2, FALSE)
                    THEN 1 ELSE 0 END AS f_stop
        FROM m
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(f_wc) AS BIGINT) AS pass_wordcount,
           CAST(SUM(f_mwl) AS BIGINT) AS pass_mean_word_len,
           CAST(SUM(f_sym) AS BIGINT) AS pass_symbol_ratio,
           CAST(SUM(f_alpha) AS BIGINT) AS pass_alpha_words,
           CAST(SUM(f_stop) AS BIGINT) AS pass_stop_tokens,
           CAST(SUM(f_wc * f_mwl * f_sym * f_alpha * f_stop) AS BIGINT)
               AS pass_all,
           {rate} AS pass_rate
    FROM flags
    """


register("ext_gopher_rules", q_ext_gopher_rules, _gopher_oracle())


# ---------------------------------------------------------------------------
# ext_negative_sampling: word2vec-style negative-sampling table (Mikolov
# et al., NeurIPS 2013): unigram counts raised to the 3/4 power — computed
# as sqrt(sqrt(c^3)), sqrt being IEEE-correctly- rounded, so NO
# libm-divergent pow anywhere — with each token's normalized sampling
# share; top-20 by frequency.
#
# word2vec negative-sampling table: w = count^(3/4) via sqrt(sqrt(c^3)).
# c^3 is a fixed IEEE product chain and sqrt is correctly rounded, so
# the weight is bit-identical in any IEEE engine at ANY count magnitude
# — no pow, no ln/exp. Shares quantize at 6dp into the DECIMAL total.


def q_ext_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import tokenize

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokenize("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)  # feeds the total AND the top-k
    )
    cd = F.col("c").cast("double")
    w = stable_round(F.sqrt(F.sqrt(cd * cd * cd)), 6)
    weighted = counts.select("tok", "c", w.alias("w"))
    tot = weighted.agg(
        F.sum(F.col("w").cast("decimal(18,6)")).alias("__tw")
    )
    w_rank = Window.orderBy(F.col("c").desc(), F.col("tok"))
    return (
        weighted.crossJoin(F.broadcast(tot))
        .withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") <= 20)
        .select(
            "tok",
            "c",
            "w",
            stable_round(
                F.col("w")
                / F.when(F.col("__tw") > 0, F.col("__tw")).cast("double"),
                12,
            ).alias("neg_share"),
        )
    )


def _neg_sampling_oracle() -> str:
    w = stable_round_sql(
        "sqrt(sqrt(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)"
        " * CAST(c AS DOUBLE)))",
        6,
    )
    share = stable_round_sql(
        "(w / CAST(CASE WHEN __tw > 0 THEN __tw END AS DOUBLE))", 12
    )
    return f"""
    WITH toks AS (
        SELECT unnest({_TOKS}) AS tok FROM documents
    ), counts AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1
    ), weighted AS (
        SELECT tok, c, {w} AS w FROM counts
    ), tot AS (
        SELECT SUM(CAST(w AS DECIMAL(18,6))) AS __tw FROM weighted
    ), ranked AS (
        SELECT tok, c, w, __tw,
               row_number() OVER (ORDER BY c DESC, tok) AS rn
        FROM weighted, tot
    )
    SELECT tok, c, w, {share} AS neg_share
    FROM ranked WHERE rn <= 20
    """


register(
    "ext_negative_sampling", q_ext_negative_sampling, _neg_sampling_oracle()
)


# ---------------------------------------------------------------------------
# ext_capture_recapture: Lincoln-Petersen / Chapman (1951) mark-recapture
# estimate of TOTAL vocabulary from the two hash-split document halves —
# the sampling-theory companion to ``ext_chao1_vocab``'s abundance-based
# estimator.
#
# Lincoln-Petersen / Chapman mark-recapture vocabulary estimate from
# the even/odd doc_id halves: one token pass -> per-token presence
# flags -> exact counts -> closed-form estimators.


def q_ext_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import tokenize

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    flags = (
        docs.select(
            (F.col("doc_id") % 2 == 0).cast("int").alias("__even"),
            F.explode(tokenize("text")).alias("tok"),
        )
        .groupBy("tok")
        .agg(
            F.max("__even").alias("__a"),
            F.max(F.lit(1) - F.col("__even")).alias("__b"),
        )
    )
    agg = flags.groupBy().agg(
        F.sum("__a").cast("long").alias("n1"),
        F.sum("__b").cast("long").alias("n2"),
        F.sum(F.col("__a") * F.col("__b")).cast("long").alias("m"),
        F.count(F.lit(1)).cast("long").alias("vocab_observed"),
    )
    lp = (
        F.col("n1").cast("double")
        * F.col("n2").cast("double")
        / F.when(F.col("m") > 0, F.col("m")).cast("double")
    )
    chap = (
        (F.col("n1") + 1).cast("double")
        * (F.col("n2") + 1).cast("double")
        / (F.col("m") + 1).cast("double")
        - F.lit(1.0)
    )
    return agg.select(
        F.col("n1").alias("vocab_even"),
        F.col("n2").alias("vocab_odd"),
        F.col("m").alias("vocab_both"),
        "vocab_observed",
        stable_round(lp, 6).alias("lp_estimate"),
        stable_round(chap, 6).alias("chapman_estimate"),
    )


def _capture_oracle() -> str:
    lp = (
        "(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
        " / CAST(CASE WHEN m > 0 THEN m END AS DOUBLE))"
    )
    chap = (
        "(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)"
        " / CAST(m + 1 AS DOUBLE) - 1.0)"
    )
    return f"""
    WITH toks AS (
        SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS even,
               unnest({_TOKS}) AS tok
        FROM documents WHERE doc_id IS NOT NULL
    ), flags AS (
        SELECT tok, MAX(even) AS a, MAX(1 - even) AS b
        FROM toks GROUP BY 1
    ), agg AS (
        SELECT CAST(SUM(a) AS BIGINT) AS n1,
               CAST(SUM(b) AS BIGINT) AS n2,
               CAST(SUM(a * b) AS BIGINT) AS m,
               CAST(COUNT(*) AS BIGINT) AS vocab_observed
        FROM flags
    )
    SELECT n1 AS vocab_even, n2 AS vocab_odd, m AS vocab_both,
           vocab_observed,
           {stable_round_sql(lp, 6)} AS lp_estimate,
           {stable_round_sql(chap, 6)} AS chapman_estimate
    FROM agg
    """


register(
    "ext_capture_recapture", q_ext_capture_recapture, _capture_oracle()
)


# ---------------------------------------------------------------------------
# MATTR without windows: with w = 25, token occurrence p (0-based) of a
# doc with n tokens and previous same-token position prev (-1 if none)
# is counted as a distinct type by exactly the windows
# s in [max(p-w+1, prev+1), min(p, n-w)] — so the summed distinct count
# over ALL windows is SUM(max(0, min(p, n-w) - max(p-w+1, prev+1) + 1))
# from one LAG pass, and MATTR = that sum / (w * n_windows). No arrays,
# no per-window state, exact integers end to end.

_MATTR_W = 25


# ext_mattr: Moving-Average Type-Token Ratio (Covington & McFall, J.
# Quant. Linguistics 2010), window 25, per language — computed WITHOUT
# materializing any window: a token occurrence is a new type in window s
# iff its previous occurrence precedes s, so its total contribution over
# all windows is a closed-form interval length from ONE LAG(pos) pass; the
# corpus-scale form of a statistic usually written with per-window
# distinct counts.
def q_ext_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.posexplode(tokenize("text")).alias("__p", "__tok"),
    )
    w_tok = Window.partitionBy("doc_id", "__tok").orderBy("__p")
    w_doc = Window.partitionBy("doc_id")
    t = toks.select(
        "doc_id",
        "lang",
        "__p",
        F.coalesce(F.lag("__p").over(w_tok), F.lit(-1)).alias("__prev"),
        F.count(F.lit(1)).over(w_doc).cast("long").alias("__n"),
    )
    w = F.lit(_MATTR_W)
    contrib = F.greatest(
        F.lit(0).cast("long"),
        (
            F.least(F.col("__p").cast("long"), F.col("__n") - w)
            - F.greatest(
                F.col("__p").cast("long") - w + 1, F.col("__prev") + 1
            )
            + 1
        ).cast("long"),
    )
    per_doc = t.groupBy("lang", "doc_id").agg(
        F.max("__n").alias("__n"),
        F.sum(contrib).cast("long").alias("__distinct_sum"),
    )
    per_lang = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.greatest(F.col("__n") - w + 1, F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("n_windows"),
        F.sum("__distinct_sum").cast("long").alias("__ds"),
    )
    mattr = F.col("__ds").cast("double") / (
        F.lit(float(_MATTR_W))
        * F.when(F.col("n_windows") > 0, F.col("n_windows")).cast("double")
    )
    return per_lang.select(
        "lang", "n_docs", "n_windows", stable_round(mattr, 12).alias("mattr")
    )


def _mattr_oracle() -> str:
    w = _MATTR_W
    mattr = stable_round_sql(
        f"(CAST(__ds AS DOUBLE) / ({float(w)!r}"
        " * CAST(CASE WHEN n_windows > 0 THEN n_windows END AS DOUBLE)))",
        12,
    )
    return f"""
    WITH tk AS (
        SELECT doc_id, lang, {_TOKS} AS tk FROM documents
    ), toks AS (
        SELECT doc_id, lang,
               CAST(u.u['p'] AS BIGINT) - 1 AS p,
               CAST(u.u['t'] AS VARCHAR) AS tok
        FROM (
            SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(tk) + 1),
                          i -> {{'p': i, 't': tk[i]}})) AS u
            FROM tk
        ) u
    ), t AS (
        SELECT doc_id, lang, p,
               COALESCE(LAG(p) OVER (PARTITION BY doc_id, tok ORDER BY p),
                        -1) AS prev,
               CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        FROM toks
    ), contrib AS (
        SELECT doc_id, lang, n,
               GREATEST(0, LEAST(p, n - {w})
                           - GREATEST(p - {w} + 1, prev + 1) + 1) AS c
        FROM t
    ), per_doc AS (
        SELECT lang, doc_id, MAX(n) AS n,
               CAST(SUM(c) AS BIGINT) AS ds
        FROM contrib GROUP BY 1, 2
    ), per_lang AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(GREATEST(n - {w} + 1, 0)) AS BIGINT) AS n_windows,
               CAST(SUM(ds) AS BIGINT) AS __ds
        FROM per_doc GROUP BY 1
    )
    SELECT lang, n_docs, n_windows, {mattr} AS mattr
    FROM per_lang
    """


register("ext_mattr", q_ext_mattr, _mattr_oracle())
