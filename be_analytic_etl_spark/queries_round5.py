"""Round-5 extension queries.

First batch — survivorship and selection: dedup survivorship, mixture
sampling, containment similarity, curriculum binning, rolling
quantiles, per-key sampling, LM scoring, SemDeDup, PQ/IVF-PQ ANN,
sequence packing, window dedup, frequent pairs, MAD outliers.

Second batch — retrieval, selection, and layout: BM25 and hybrid (RRF)
retrieval, hard-negative mining, per-source token-budget selection,
DSIR importance resampling, per-language quality-percentile
calibration, the HLL register-merge rollup, and the Z-order
data-skipping census.

Together these finish the training-data-pipeline story: after near-dup
*detection* (dedup.py) a pipeline must pick canonical survivors, mix
and select sources to a token budget, retrieve and mine contrastive
examples, and lay data out for scan pruning. Every query pairs the
Spark operator with a DuckDB oracle twin (same cross-engine
determinism rules as queries_extensions.py: exact integer divisions,
identical IEEE op order, md5-head portable hashing, stable_round for
emitted engine-divergent doubles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.rounding import stable_round, stable_round_sql
from be_analytic_etl_spark.operators import dedup as D
from be_analytic_etl_spark.operators import sampling as SA
from be_analytic_etl_spark.operators import similarity as S
from be_analytic_etl_spark.operators.similarity import PROBE_WHERE_SQL
from be_analytic_etl_spark.operators import textstats as T
from be_analytic_etl_spark.queries_extensions import (
    _dot_sql,
    _grams_sql,
    _t,
    _TOKS,
)
from be_analytic_etl_spark.registry import register

#: DuckDB twin of sampling.hash_bucket(key, salt).
def _bucket_sql(key: str, salt: str) -> str:
    return (
        f"(CAST('0x' || substr(md5(CAST({key} AS VARCHAR) || '|{salt}'), 1, 15) "
        f"AS BIGINT) % {SA.SPLIT_BUCKETS})"
    )


#: DuckDB CTE chain computing quality_score(round_to=None) per doc_id
#: (tok -> m -> q yielding (doc_id, fingerprint, quality)) — the
#: feature block and score formula are single-sourced from
#: queries_analytics (qscore_feature_ctes / _QSCORE_SQL) so they can
#: never drift from textstats.quality_score.
def _quality_ctes() -> str:
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

    return f"""{qscore_feature_ctes("doc_id", ", t")}, q AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(t)), '{T.WS_PLUS}', ' ', 'g')) AS fingerprint,
               {_QSCORE_SQL} AS quality
        FROM m
    )"""


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
    WHERE {_bucket_sql('d.doc_id', 'mix')} < p.threshold
    GROUP BY d.lang, p.target_frac, p.threshold
    """


register("ext_mixture_sample", q_ext_mixture_sample, _mixture_oracle())


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
# Rolling median (exact): per-user 7-row trailing window over the event
# stream. Spark has no exact windowed median; sorted collect_list over a
# ROWS frame is exact and bounded (≤7 elements per row, never the whole
# partition).
def q_ext_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.floor(n / F.lit(2)).cast("int")
    hi = lo + F.lit(1)
    med = F.when(n % 2 == 1, F.element_at(arr, hi)).otherwise(
        (F.element_at(arr, lo) + F.element_at(arr, hi)) / 2.0
    )
    return ev.select("user_id", "event_id", "ts", "value", med.alias("roll_median"))


register(
    "ext_rolling_median",
    q_ext_rolling_median,
    """
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
           median(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll_median
    FROM events WHERE value IS NOT NULL
    """,
)


# ---------------------------------------------------------------------------
# Deterministic k-per-key sample: top-3 events per user by key-hash order —
# the per-key companion of deterministic_sample (stable across runs,
# retries, and engines; one shuffle on user_id).
def q_ext_per_key_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hb = T.portable_hash60(
        F.concat(F.col("event_id").cast("string"), F.lit("|pks"))
    )
    w = Window.partitionBy("user_id").orderBy(hb.asc(), F.col("event_id"))
    return (
        ev.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 3)
        .select("user_id", "event_id", "ts", "value", "sample_rank")
    )


register(
    "ext_per_key_sample",
    q_ext_per_key_sample,
    """
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value, sample_rank
    FROM (
        SELECT user_id, event_id, ts, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
                       || '|pks'), 1, 15) AS BIGINT), event_id) AS sample_rank
        FROM events)
    WHERE sample_rank <= 3
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
# SemDeDup (Abbas et al., 2023): IVF-cell-blocked cosine near-dup pairs
# over embeddings -> connected components -> min-id survivor per semantic
# cluster. The composition the paper runs on LAION: quadratic work confined
# to cells, CC propagation carries (node, label) only.
def q_ext_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import graph as G
    from be_analytic_etl_spark.operators import similarity as S
    from be_analytic_etl_spark.queries_extensions import _IVF_CELLS, _SEM_THRESH

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
    from be_analytic_etl_spark.queries_extensions import (
        _cos_sql,
        _IVF_CELLS,
        _SEM_THRESH,
    )

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
    from be_analytic_etl_spark.queries_extensions import _queries_df, _TOPK

    emb = _t(spark, sf_dir, "embeddings")
    return S.pq_ann(emb, _queries_df(emb), m=_PQ_M, n_codes=_PQ_CODES, k=_TOPK)


def _pq_ann_oracle() -> str:
    from be_analytic_etl_spark.queries_extensions import _dot_sql, _TOPK

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
    from be_analytic_etl_spark.queries_extensions import (
        _IVF_CELLS,
        _IVF_PROBE,
        _queries_df,
        _TOPK,
    )

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
    from be_analytic_etl_spark.queries_extensions import (
        _cos_sql,
        _dot_sql,
        _IVF_CELLS,
        _IVF_PROBE,
        _TOPK,
    )

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
# Market-basket frequent pairs with a-priori pruning: items below min
# support can't be in a frequent pair (Agrawal & Srikant, VLDB 1994), so
# the quadratic per-basket self-join runs only over support-filtered
# items. Lift contextualizes each pair against independence.
_BASKET_MINSUP = 2


def q_ext_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Basket-local pair expansion, NOT a per-basket self-join: one
    # collect_set shuffle on l_orderkey builds each basket's distinct
    # item array, then the a<b pairs expand MAP-SIDE from the sorted
    # array (nested transform/filter — pure codegen'd exprs) straight
    # into the (part_a, part_b) count shuffle. Three exchanges total vs
    # the classic distinct + freq-filter + self-join's five; the k^2
    # fan-out per basket is the same rows the self-join would emit,
    # minus a shuffle of the basket table on both sides. The item-level
    # a-priori filter is provably redundant at equal min-support:
    # n_baskets(a,b) <= n_item(a), so the pair-level HAVING subsumes it
    # (oracle keeps the textbook two-stage form; outputs are identical).
    # Skew: a pathological mega-basket inflates one task by k^2 — at
    # real scale cap basket size (slice the array) or salt the count,
    # same guard family as dedup.max_bucket.
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    tot = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    freq = (
        baskets.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_item"))
        .filter(F.col("n_item") >= _BASKET_MINSUP)
    )
    pair_expand = F.expr(
        "flatten(transform(items, x ->"
        " transform(filter(items, y -> y > x),"
        " y -> struct(x AS part_a, y AS part_b))))"
    )
    pairs = (
        baskets.select(F.explode(pair_expand).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
        .filter(F.col("n_baskets") >= _BASKET_MINSUP)
    )
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("__na"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("__nb"))
    lift = (F.col("n_baskets").cast("double") * F.col("n_orders")) / (
        F.col("__na").cast("double") * F.col("__nb")
    )
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(tot))
        .select("part_a", "part_b", "n_baskets", lift.alias("lift"))
    )


register(
    "ext_frequent_pairs",
    q_ext_frequent_pairs,
    f"""
    WITH it AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), tot AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM it
    ), freq AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
        FROM it GROUP BY l_partkey HAVING COUNT(*) >= {_BASKET_MINSUP}
    ), fit AS (
        SELECT it.l_orderkey, it.l_partkey
        FROM it JOIN freq ON it.l_partkey = freq.l_partkey
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS n_baskets
        FROM fit a JOIN fit b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {_BASKET_MINSUP}
    )
    SELECT p.part_a, p.part_b, p.n_baskets,
           (CAST(p.n_baskets AS DOUBLE) * t.n_orders)
               / (CAST(fa.n_item AS DOUBLE) * fb.n_item) AS lift
    FROM pairs p
    JOIN freq fa ON p.part_a = fa.l_partkey
    JOIN freq fb ON p.part_b = fb.l_partkey
    CROSS JOIN tot t
    """,
)


# ---------------------------------------------------------------------------
# Robust outliers: per-group median/MAD (the z-score's breakdown-resistant
# sibling — one wild value can't move the fence). Exact percentile is a
# per-group sort; at 100 TB swap in approx_percentile (mergeable t-digest)
# with no other plan change. Two grouped passes + one broadcast join of
# the |groups|-row stats table; outliers counted, not materialized.
_MAD_K = 3.0
_MAD_CONSISTENT = 1.4826  # normal-consistency constant


def q_ext_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("__ad")
    )
    mad = dev.groupBy("event_type", "med").agg(
        F.expr("percentile(__ad, 0.5)").alias("mad")
    )
    fence = F.lit(_MAD_K) * (F.lit(_MAD_CONSISTENT) * F.col("mad"))
    flagged = (
        ev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "med",
            "mad",
            (F.abs(F.col("value") - F.col("med")) > fence).cast("long").alias("__out"),
        )
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("__out").cast("long").alias("n_outliers"),
        )
    )
    return flagged


register(
    "ext_mad_outliers",
    q_ext_mad_outliers,
    f"""
    WITH ev AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ), med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM ev GROUP BY event_type
    ), mad AS (
        SELECT e.event_type, m.med,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM ev e JOIN med m ON e.event_type = m.event_type
        GROUP BY e.event_type, m.med
    )
    SELECT e.event_type, m.med, m.mad,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN abs(e.value - m.med)
                    > {_MAD_K} * ({_MAD_CONSISTENT} * m.mad)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM ev e JOIN mad m ON e.event_type = m.event_type
    GROUP BY e.event_type, m.med, m.mad
    """,
)


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
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

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
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

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
# Z-order layout census: interleave (customer, order-day) bits into a
# Morton key, bucket the z-sorted orders into 64 "files", and emit each
# bucket's footer stats (min/max per dimension) plus whether a fixed
# customer-range probe would touch it — the lakehouse OPTIMIZE ZORDER
# data-skipping story, in exact integer bit math (oracle replays the
# keys bit-for-bit). NTILE's global window is the local stand-in for
# repartitionByRange at scale (operators/layout.py).
_Z_BUCKETS = 64
_Z_PROBE_LO, _Z_PROBE_HI = 100, 200
#: 21 bits per dimension (2^21 = 2M): o_custkey passes 2^16 from TPC-H
#: sf~0.5 and reaches 150k at sf1 — 16 bits would silently alias keys
#: mod 65536 and erode the locality the census demonstrates. 2*21 = 42
#: key bits, well inside BIGINT.
_Z_BITS = 21


def q_ext_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.layout import zorder_skipping_stats

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_custkey").alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("y"),
        F.col("o_orderkey").alias("id"),
    )
    stats = zorder_skipping_stats(
        base, "x", "y", "id", n_buckets=_Z_BUCKETS, bits=_Z_BITS
    )
    return stats.withColumn(
        "touches_probe",
        (F.col("min_x") <= _Z_PROBE_HI) & (F.col("max_x") >= _Z_PROBE_LO),
    )


def _zorder_skip_oracle() -> str:
    from be_analytic_etl_spark.operators.profiling import zorder_sql

    zexpr = zorder_sql("x", "y", bits=_Z_BITS)
    return f"""
    WITH base AS (
        SELECT o_custkey AS x,
               date_diff('day', DATE '1992-01-01', o_orderdate) AS y,
               o_orderkey AS id
        FROM orders
    ), zb AS (
        SELECT x, y,
               NTILE({_Z_BUCKETS}) OVER (ORDER BY {zexpr}, id) AS bucket
        FROM base
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y,
           (MIN(x) <= {_Z_PROBE_HI} AND MAX(x) >= {_Z_PROBE_LO})
               AS touches_probe
    FROM zb GROUP BY bucket
    """


register("ext_zorder_skipping", q_ext_zorder_skipping, _zorder_skip_oracle())


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
# Skew-proof exact per-group top-k: two-phase (sub-bucket top-k, then
# final re-rank of <= k*salt_n survivors) — the pattern that survives a
# power-law hot group where a single-window top-k straggles. Result is
# salt-invariant, so the oracle is the plain window top-k.
_TOPK_K = 3


def q_ext_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return SA.topk_per_group(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        group_cols=["o_orderpriority"],
        order_col="o_totalprice",
        id_col="o_orderkey",
        k=_TOPK_K,
    )


register(
    "ext_topk_per_group",
    q_ext_topk_per_group,
    f"""
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey
           ) AS INTEGER) AS rank
    FROM orders
    QUALIFY rank <= {_TOPK_K}
    """,
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
# Source concentration (Gini over per-source token mass): how unbalanced
# is the training mixture? G = 2*sum(i * x_(i)) / (n * sum(x)) - (n+1)/n
# over sources sorted ascending by mass (ties by name). The rank-sum and
# totals are exact BIGINTs; the tail is a FIXED 3-op IEEE sequence
# (divide, divide, subtract) on exact integers — engine-identical, so
# gini emits raw. n-sources-sized state after one partial agg.
def q_ext_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(T.token_count("text").cast("long")).alias("toks")
    )
    w = Window.orderBy(F.col("toks"), F.col("source"))
    ranked = per.withColumn("__i", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("toks").cast("long").alias("total_tokens"),
        (
            (F.lit(2.0) * F.sum(F.col("__i") * F.col("toks")).cast("double"))
            # class-8 NULL-safe divide: zero total token mass (all-NULL
            # text) must yield NULL gini, not ANSI DIVIDE_BY_ZERO
            / F.when(
                F.sum("toks") > 0,
                (F.count(F.lit(1)) * F.sum("toks")).cast("double"),
            )
            - (F.count(F.lit(1)) + F.lit(1)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("gini")
    )


register(
    "ext_source_gini",
    q_ext_source_gini,
    f"""
    WITH per AS (
        SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS toks
        FROM documents GROUP BY source
    ), ranked AS (
        SELECT toks,
               ROW_NUMBER() OVER (ORDER BY toks, source) AS i
        FROM per
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           (2.0 * CAST(SUM(i * toks) AS DOUBLE))
               / (CASE WHEN SUM(toks) > 0
                       THEN CAST(COUNT(*) * SUM(toks) AS DOUBLE) END)
           - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS gini
    FROM ranked
    """,
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
# Time-windowed HLL: daily distinct-user sketches per event type — the
# window x sketch composition every metrics pipeline runs (and, because
# registers merge by MAX, daily sketches roll up to weekly/monthly
# without rescanning — ext_hll_panel's 'ALL' row uses that algebra). State is
# (days x types x <= 2^p registers); estimate math is integer-exact up
# to one division.
_WHLL_P = 6


def q_ext_windowed_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
        "user_id",
    )
    regs = hll_registers(
        ev, ["day", "event_type"], "user_id", p=_WHLL_P, salt="whll"
    )
    return hll_estimate(regs, ["day", "event_type"], p=_WHLL_P)


def _windowed_hll_oracle() -> str:
    from be_analytic_etl_spark.operators.sketches import HASH_BITS, _alpha

    p = _WHLL_P
    m = 1 << p
    vbits = HASH_BITS - p
    mask = (1 << vbits) - 1
    numerator = repr(_alpha(m) * m * m * float(1 << (vbits + 1)))
    return f"""
    WITH hashed AS (
        SELECT date_trunc('day', ts) AS day, event_type,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|whll'), 1, 15)
                    AS BIGINT) AS h
        FROM events
    ),
    regs AS (
        SELECT day, event_type, h >> {vbits} AS idx,
               MAX(CASE WHEN (h & {mask}) = 0 THEN {vbits + 1}
                        ELSE {vbits + 1} - length(bin(h & {mask})) END) AS m
        FROM hashed GROUP BY day, event_type, idx
    ),
    agg AS (
        SELECT day, event_type,
               SUM(CAST(1 AS BIGINT) << ({vbits + 1} - m)) AS occ_sum,
               COUNT(*) AS n_registers_used
        FROM regs GROUP BY day, event_type
    )
    SELECT day, event_type,
           {numerator} / CAST(occ_sum + ({m} - n_registers_used)
                              * (CAST(1 AS BIGINT) << {vbits + 1}) AS DOUBLE)
               AS hll_estimate,
           n_registers_used
    FROM agg
    """


register("ext_windowed_hll", q_ext_windowed_hll, _windowed_hll_oracle())


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
# Cohort retention: users grouped by their first-activity day, with the
# share still active exactly N days later — the canonical product-
# analytics cohort table. Two aggregations (first-day per user, then
# cohort x retained counts via a semi-join on (user, cohort+N)); all
# exact integers except the one retention-rate division.
_RET_DAYS = 7


def q_ext_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort"))
    target = first.select(
        "user_id", F.date_add("cohort", _RET_DAYS).alias("d")
    )
    retained = (
        target.join(ev.distinct(), ["user_id", "d"], "left_semi")
        .join(first, "user_id")
        .groupBy("cohort")
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    cohorts = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    return (
        cohorts.join(retained, "cohort", "left")
        .select(
            "cohort",
            F.col("n_users").cast("long").alias("n_users"),
            F.coalesce("n_retained", F.lit(0)).cast("long").alias("n_retained"),
            (
                F.coalesce("n_retained", F.lit(0)).cast("double")
                / F.col("n_users").cast("double")
            ).alias("retention_rate"),
        )
    )


register(
    "ext_retention",
    q_ext_retention,
    f"""
    WITH ev AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), first AS (
        SELECT user_id, MIN(d) AS cohort FROM ev GROUP BY user_id
    ), ret AS (
        SELECT f.cohort, COUNT(*) AS n_retained
        FROM first f
        JOIN ev ON ev.user_id = f.user_id
               AND ev.d = f.cohort + INTERVAL {_RET_DAYS} DAY
        GROUP BY f.cohort
    ), coh AS (
        SELECT cohort, COUNT(*) AS n_users FROM first GROUP BY cohort
    )
    SELECT c.cohort,
           CAST(c.n_users AS BIGINT) AS n_users,
           CAST(COALESCE(r.n_retained, 0) AS BIGINT) AS n_retained,
           CAST(COALESCE(r.n_retained, 0) AS DOUBLE)
               / CAST(c.n_users AS DOUBLE) AS retention_rate
    FROM coh c LEFT JOIN ret r ON c.cohort = r.cohort
    """,
)


# ---------------------------------------------------------------------------
# DAU/WAU stickiness: per day, distinct users active that day over
# distinct users active in the trailing 7 days — the engagement ratio
# every metrics stack reports. The trailing-window distinct cannot be a
# window aggregate (COUNT(DISTINCT) OVER a range is unsupported /
# wrong under overlap), and a day-range join plans as a broadcast
# nested loop whose COMPARE cost is |user-days| x |calendar days| —
# a scale-killer even though its output is calendar-bounded. Instead
# each (user, day) row map-side explodes into the <=7 trailing-window
# days it covers (constant 7x fan-out, no join), then one
# distinct + groupBy; the final inner join with DAU drops window days
# that were never active, matching the oracle's days-from-activity
# calendar. Exact ints, one division.
def q_ext_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
            ).alias("d"),
        )
        .distinct()
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return dau.join(wau, "d").select(
        "d",
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
            "stickiness"
        ),
    )


register(
    "ext_dau_wau",
    q_ext_dau_wau,
    """
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), days AS (
        SELECT DISTINCT d FROM ud
    ), dau AS (
        SELECT d, COUNT(*) AS dau FROM ud GROUP BY d
    ), wau AS (
        SELECT days.d, COUNT(DISTINCT ud.user_id) AS wau
        FROM days JOIN ud
          ON ud.d <= days.d AND ud.d >= days.d - INTERVAL 6 DAY
        GROUP BY days.d
    )
    SELECT dau.d, CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    """,
)
