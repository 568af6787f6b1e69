"""Round-8 extension queries.

The mergeable-sketch and drift/monitoring gaps the round-7 window plan
named (registry.py "Round-8 window plan"), plus ranking-eval and
PII-audit companions to the existing eval family:

- ``ext_kmins_distinct``: k-mins cardinality sketch (Cohen, JCSS 1997)
  per event type + the merged ALL row — the mergeable distinct-count
  companion to HLL that a SQL oracle can replay exactly.
- ``ext_psi_drift``: Population Stability Index of each source's
  quality-score decile distribution vs the corpus blend — the
  binned-drift gauge production scorecards alarm on, beside the
  token-level ``ext_mixture_kl`` / ``ext_jensen_shannon``.
- ``ext_benford_digits``: first-significant-digit audit of order
  totals vs Benford's law (Benford 1938; Nigrini's fraud-screen usage)
  — a data-quality screen over any financial fact column.
- ``ext_cusum_changepoint``: Page's CUSUM (Biometrika 1954) over the
  daily revenue series — integer-exact single-changepoint location.
- ``ext_lift_curve``: cumulative gains / lift by score decile — the
  campaign-targeting read of the same classifier ``ext_roc_auc`` and
  ``ext_calibration_ece`` grade.
- ``ext_ndcg``: NDCG@10 of the exact cosine retrieval against the
  stored class labels (Järvelin & Kekäläinen, TOIS 2002) — the graded
  ranking metric beside the recall-style ANN evals.
- ``ext_pii_audit``: per-source PII incidence rates (emails / long
  digit runs) using the SAME patterns ``ext_redact`` scrubs with — the
  measurement half of the redaction pair.

Float discipline (SCALE.md, all five divergence classes checked):
corpus accumulations are BIGINT/DECIMAL exact; libm terms (ln) quantize
via ``stable_round`` to DECIMAL(18,6) BEFORE any sum; constants that
would need libm inside the engines (Benford expectations, DCG
discounts) are quantized HOST-side and embedded as
identical literals in both plans; emitted doubles are single IEEE
divisions of exact integers/decimals or quantized at the source.
"""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.rounding import stable_round, stable_round_sql
from be_analytic_etl_spark.operators.similarity import PROBE_WHERE_SQL
from be_analytic_etl_spark.operators import textstats as T
from be_analytic_etl_spark.queries_extensions import _TOKS, _dot_sql, _t
from be_analytic_etl_spark.registry import register

# ---------------------------------------------------------------------------
# k-mins distinct-count sketch per event type + merged ALL row.
_KM_K = 64


def q_ext_kmins_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sketches import kmins_distinct
    from be_analytic_etl_spark.sources import load_table

    # spread=True: the k=64 affine hashes per row are per-row compute —
    # a single-row-group scan would serialize them onto one core.
    events = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("user_id").isNotNull()
    )
    return kmins_distinct(events, "event_type", "user_id", k=_KM_K)


def _kmins_oracle() -> str:
    from be_analytic_etl_spark.operators.sketches import kmins_distinct_sql

    rows = (
        "SELECT event_type AS scope, CAST(user_id AS VARCHAR) AS item"
        " FROM events WHERE user_id IS NOT NULL"
    )
    return "WITH " + kmins_distinct_sql(rows, k=_KM_K).strip()


register("ext_kmins_distinct", q_ext_kmins_distinct, _kmins_oracle())


# ---------------------------------------------------------------------------
# CUSUM changepoint over the daily event-revenue series (exact cents).


def q_ext_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.timeseries import cusum_changepoint

    events = _t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return cusum_changepoint(
        events.select("ts", cents.alias("cents")), "ts", "cents"
    )


def _cusum_oracle() -> str:
    from be_analytic_etl_spark.operators.timeseries import cusum_changepoint_sql

    rows = (
        "SELECT CAST(ts AS DATE) AS day,"
        " CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents"
        " FROM events"
    )
    return "WITH " + cusum_changepoint_sql(rows).strip()


register("ext_cusum_changepoint", q_ext_cusum_changepoint, _cusum_oracle())


# ---------------------------------------------------------------------------
# Population Stability Index per source over quality-score deciles.
# PSI = sum_b (p_b - q_b) * ln(p_b / q_b) with Laplace-smoothed bin
# shares (so empty bins never hit ln 0). Corpus work = one
# partial-aggregated groupBy(source, bin); the |sources| x 10 grid and
# the fold are control-plane sized. p, q are exact-integer-ratio
# doubles; each ln term quantizes to DECIMAL(18,6) BEFORE the
# 10-term sum (the mixture_kl discipline).
_PSI_BINS = 10


def _psi_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    q6 = (
        stable_round(T.quality_score("text", round_to=None), 6)
        .cast("decimal(18,6)")
        .alias("score")
    )
    b = F.least(
        F.floor(F.col("score") * _PSI_BINS).cast("int"),
        F.lit(_PSI_BINS - 1),
    )
    return docs.select("source", q6).select("source", b.alias("bin"))


def psi_from_binned(binned: DataFrame) -> DataFrame:
    """PSI fold over a pre-binned (source, bin) frame — the grid /
    left-join / fillna / smoothed-term logic, separated from the
    quality-score binning so it is behaviorally testable on synthetic
    frames (tests/test_round8_ops.py)."""
    sb = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("__c_sb")
    )
    per_src = sb.groupBy("source").agg(
        F.sum("__c_sb").cast("long").alias("__n_s")
    )
    per_bin = sb.groupBy("bin").agg(
        F.sum("__c_sb").cast("long").alias("__c_b")
    )
    tot = per_src.agg(F.sum("__n_s").cast("long").alias("__n"))
    grid = per_src.select(
        "source",
        "__n_s",
        F.explode(F.sequence(F.lit(0), F.lit(_PSI_BINS - 1))).alias("bin"),
    )
    j = (
        grid.join(sb, ["source", "bin"], "left")
        .join(F.broadcast(per_bin), "bin", "left")
        .crossJoin(F.broadcast(tot))
        .fillna(0, subset=["__c_sb", "__c_b"])
    )
    p = (F.col("__c_sb") + 1).cast("double") / (
        F.col("__n_s") + _PSI_BINS
    ).cast("double")
    q = (F.col("__c_b") + 1).cast("double") / (
        F.col("__n") + _PSI_BINS
    ).cast("double")
    term = stable_round((p - q) * F.log(p / q), 6).cast("decimal(18,6)")
    return (
        j.groupBy("source")
        .agg(
            F.max("__n_s").alias("n_docs"),
            F.sum(term).alias("__psi"),
        )
        .select("source", "n_docs", F.col("__psi").cast("double").alias("psi"))
    )


def q_ext_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return psi_from_binned(_psi_scored(spark, sf_dir))


def _psi_oracle() -> str:
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

    p = f"(CAST(__c_sb + 1 AS DOUBLE) / CAST(__n_s + {_PSI_BINS} AS DOUBLE))"
    q = f"(CAST(__c_b + 1 AS DOUBLE) / CAST(__n + {_PSI_BINS} AS DOUBLE))"
    term = stable_round_sql(f"({p} - {q}) * ln({p} / {q})", 6)
    return f"""
    WITH {qscore_feature_ctes('source')}, sc AS (
        SELECT source,
               LEAST(CAST(FLOOR(
                   CAST({stable_round_sql(_QSCORE_SQL, 6)} AS DECIMAL(18,6))
                   * {_PSI_BINS}) AS INTEGER), {_PSI_BINS - 1}) AS bin
        FROM m
    ), sb AS (
        SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS __c_sb
        FROM sc GROUP BY 1, 2
    ), per_src AS (
        SELECT source, CAST(SUM(__c_sb) AS BIGINT) AS __n_s
        FROM sb GROUP BY 1
    ), per_bin AS (
        SELECT bin, CAST(SUM(__c_sb) AS BIGINT) AS __c_b FROM sb GROUP BY 1
    ), tot AS (SELECT CAST(SUM(__n_s) AS BIGINT) AS __n FROM per_src),
    grid AS (
        SELECT s.source, s.__n_s, CAST(r.b AS INTEGER) AS bin
        FROM per_src s, range(0, {_PSI_BINS}) r(b)
    ), j AS (
        SELECT g.source, g.__n_s,
               COALESCE(sb.__c_sb, 0) AS __c_sb,
               COALESCE(pb.__c_b, 0) AS __c_b,
               t.__n
        FROM grid g
        LEFT JOIN sb ON sb.source = g.source AND sb.bin = g.bin
        LEFT JOIN per_bin pb ON pb.bin = g.bin
        CROSS JOIN tot t
    )
    SELECT source, MAX(__n_s) AS n_docs,
           CAST(SUM(CAST({term} AS DECIMAL(18,6))) AS DOUBLE) AS psi
    FROM j GROUP BY source
    """


register("ext_psi_drift", q_ext_psi_drift, _psi_oracle())


# ---------------------------------------------------------------------------
# Benford first-significant-digit audit of order totals. Expected
# shares log10(1 + 1/d) are HOST-quantized to 6dp and embedded as
# identical double literals in both plans — no engine libm. freq is an
# exact-count ratio (one IEEE division); abs_dev quantizes at the
# source.
_BENFORD_P6 = [
    math.floor(math.log10(1.0 + 1.0 / d) * 1_000_000 + 0.5) / 1_000_000
    for d in range(1, 10)
]


def q_ext_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    v = F.floor("o_totalprice").cast("long")
    digits = (
        orders.select(v.alias("__v"))
        .filter(F.col("__v") >= 1)
        .select(
            F.substring(F.col("__v").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
    )
    counts = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = digits.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    expected = F.element_at(
        F.array(*[F.lit(p) for p in _BENFORD_P6]), F.col("digit")
    )
    j = (
        grid.join(counts, "digit", "left")
        .fillna(0, subset=["cnt"])
        .crossJoin(F.broadcast(tot))
    )
    # NULL-safe divide: an EMPTY corpus (0 qualifying orders) must yield
    # NULL freq/abs_dev, not an ANSI DIVIDE_BY_ZERO (class-8 guard;
    # oracle twin NULLIF).
    freq = F.col("cnt").cast("double") / F.when(
        F.col("__n") > 0, F.col("__n").cast("double")
    )
    return j.select(
        "digit",
        "cnt",
        freq.alias("freq"),
        expected.alias("expected"),
        stable_round(F.abs(freq - expected), 6).alias("abs_dev"),
    ).orderBy("digit")


def _benford_oracle() -> str:
    arr = "[" + ", ".join(repr(p) for p in _BENFORD_P6) + "]"
    freq = "(CAST(cnt AS DOUBLE) / NULLIF(CAST(__n AS DOUBLE), 0.0))"
    dev = stable_round_sql(f"ABS({freq} - {arr}[digit])", 6)
    return f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                   AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders WHERE FLOOR(o_totalprice) >= 1
    ), c AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1
    ), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS __n FROM d),
    g AS (SELECT CAST(r.dg AS INTEGER) AS digit FROM range(1, 10) r(dg))
    SELECT g.digit, COALESCE(c.cnt, 0) AS cnt,
           CAST(COALESCE(c.cnt, 0) AS DOUBLE) / CAST(t.__n AS DOUBLE) AS freq,
           {arr}[g.digit] AS expected,
           {stable_round_sql(f"ABS(CAST(COALESCE(c.cnt, 0) AS DOUBLE) / CAST(t.__n AS DOUBLE) - {arr}[g.digit])", 6)}
               AS abs_dev
    FROM g LEFT JOIN c ON c.digit = g.digit CROSS JOIN t
    """


register("ext_benford_digits", q_ext_benford_digits, _benford_oracle())


# ---------------------------------------------------------------------------
# Cumulative gains / lift by quality-score decile — the targeting read
# of the calibration classifier. All accumulations are exact counts;
# gain and lift are single IEEE divisions of exact BIGINT products
# (cum_pos * n <= n^2 < 2^63 up to ~3e9 rows; beyond that the products
# move to DECIMAL — documented in SCALE.md).


def q_ext_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.queries_round7 import _scored

    sc = _scored(spark, sf_dir)
    b = F.least(
        F.floor(F.col("score") * _PSI_BINS).cast("int"), F.lit(_PSI_BINS - 1)
    )
    bins = (
        sc.filter(F.col("score").isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.sum("pos").cast("long").alias("pos_b"),
        )
    )
    w_desc = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = bins.select(
        "bin",
        "n_b",
        "pos_b",
        F.sum("n_b").over(w_desc).cast("long").alias("cum_n"),
        F.sum("pos_b").over(w_desc).cast("long").alias("cum_pos"),
        F.sum("n_b").over(w_all).cast("long").alias("__n"),
        F.sum("pos_b").over(w_all).cast("long").alias("__pos"),
    )
    gain = F.when(
        F.col("__pos") > 0,
        F.col("cum_pos").cast("double") / F.col("__pos").cast("double"),
    )
    lift = F.when(
        (F.col("__pos") > 0) & (F.col("cum_n") > 0),
        (F.col("cum_pos") * F.col("__n")).cast("double")
        / (F.col("cum_n") * F.col("__pos")).cast("double"),
    )
    return cum.select(
        "bin", "n_b", "pos_b", "cum_n", "cum_pos",
        gain.alias("gain"), lift.alias("lift"),
    )


def _lift_oracle() -> str:
    from be_analytic_etl_spark.queries_round7 import _scored_sql

    return f"""
    {_scored_sql()}, lb AS (
        SELECT LEAST(CAST(FLOOR(score * {_PSI_BINS}) AS INTEGER),
                     {_PSI_BINS - 1}) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_b,
               CAST(SUM(pos) AS BIGINT) AS pos_b
        FROM sc WHERE score IS NOT NULL GROUP BY 1
    ), lc AS (
        SELECT bin, n_b, pos_b,
               CAST(SUM(n_b) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_n,
               CAST(SUM(pos_b) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_pos,
               CAST(SUM(n_b) OVER () AS BIGINT) AS __n,
               CAST(SUM(pos_b) OVER () AS BIGINT) AS __pos
        FROM lb
    )
    SELECT bin, n_b, pos_b, cum_n, cum_pos,
           CASE WHEN __pos > 0
                THEN CAST(cum_pos AS DOUBLE) / CAST(__pos AS DOUBLE)
                END AS gain,
           CASE WHEN __pos > 0 AND cum_n > 0
                THEN CAST(cum_pos * __n AS DOUBLE)
                     / CAST(cum_n * __pos AS DOUBLE) END AS lift
    FROM lc
    """


register("ext_lift_curve", q_ext_lift_curve, _lift_oracle())


# ---------------------------------------------------------------------------
# NDCG@10 of the exact cosine retrieval against stored class labels.
# DCG discounts 1/log2(i+1) and their prefix sums (the IDCG table) are
# HOST-quantized 6dp decimals embedded identically in both plans; DCG
# accumulates as an exact DECIMAL sum of at most k terms; n_rel is an
# exact count; ndcg is one IEEE division of two exact decimals.
_NDCG_K = 10
_NDCG_W6 = [
    Decimal(
        math.floor(1_000_000 / math.log2(i + 1) + 0.5)
    ) / Decimal(1_000_000)
    for i in range(1, _NDCG_K + 1)
]
_NDCG_PREFIX = [sum(_NDCG_W6[: r + 1], Decimal(0)) for r in range(_NDCG_K)]


def q_ext_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(S.probe_filter()).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    topk = S.brute_force_topk(emb, probes, k=_NDCG_K, round_to=None)
    qlab = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("__ql")
    )
    nlab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("__nl")
    )
    j = topk.join(F.broadcast(qlab), "query_id").join(
        F.broadcast(nlab), "neighbor_id"
    )
    warr = F.array(
        *[F.lit(w).cast("decimal(18,6)") for w in _NDCG_W6]
    )
    rel = F.col("__nl").eqNullSafe(F.col("__ql")).cast("int")
    per = j.groupBy("query_id").agg(
        F.max("__ql").alias("__ql"),
        F.sum(
            rel.cast("decimal(18,6)") * F.element_at(warr, F.col("rank"))
        ).alias("__dcg"),
    )
    lc = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("__cl"))
    parr = F.array(
        *[F.lit(p).cast("decimal(18,6)") for p in _NDCG_PREFIX]
    )
    withrel = per.join(
        F.broadcast(lc), per.__ql.eqNullSafe(lc.label), "left"
    ).select(
        "query_id",
        "__dcg",
        (F.coalesce(F.col("__cl"), F.lit(1)) - 1).cast("long").alias("n_rel"),
    )
    idcg = F.element_at(
        parr, F.least(F.lit(_NDCG_K), F.col("n_rel")).cast("int")
    )
    return withrel.select(
        "query_id",
        "n_rel",
        F.col("__dcg").cast("double").alias("dcg"),
        F.when(F.col("n_rel") >= 1, idcg.cast("double")).alias("idcg"),
        F.when(
            F.col("n_rel") >= 1,
            F.col("__dcg").cast("double") / idcg.cast("double"),
        ).alias("ndcg"),
    )


def _ndcg_oracle() -> str:
    wlist = ", ".join(
        f"({i + 1}, CAST({w} AS DECIMAL(18,6)))"
        for i, w in enumerate(_NDCG_W6)
    )
    plist = ", ".join(
        f"({r + 1}, CAST({p} AS DECIMAL(18,6)))"
        for r, p in enumerate(_NDCG_PREFIX)
    )
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv, label AS ql
        FROM embeddings WHERE {PROBE_WHERE_SQL}
    ), scored AS (
        SELECT q.query_id, q.ql, e.vec_id AS neighbor_id, e.label AS nl,
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
        SELECT query_id, ql, nl,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
    ), w (rank, disc) AS (VALUES {wlist}),
    pre (r, idcg) AS (VALUES {plist}),
    dcg AS (
        SELECT query_id, MAX(ql) AS ql,
               SUM(CAST(CASE WHEN nl IS NOT DISTINCT FROM ql THEN 1 ELSE 0 END
                        AS DECIMAL(18,6)) * w.disc) AS __dcg
        FROM ranked JOIN w USING (rank)
        WHERE rank <= {_NDCG_K}
        GROUP BY query_id
    ), lc AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS __cl
        FROM embeddings GROUP BY 1
    ), wr AS (
        SELECT d.query_id, d.__dcg,
               CAST(COALESCE(lc.__cl, 1) - 1 AS BIGINT) AS n_rel
        FROM dcg d LEFT JOIN lc ON d.ql IS NOT DISTINCT FROM lc.label
    )
    SELECT wr.query_id, wr.n_rel,
           CAST(wr.__dcg AS DOUBLE) AS dcg,
           CASE WHEN wr.n_rel >= 1 THEN CAST(pre.idcg AS DOUBLE) END AS idcg,
           CASE WHEN wr.n_rel >= 1
                THEN CAST(wr.__dcg AS DOUBLE) / CAST(pre.idcg AS DOUBLE)
                END AS ndcg
    FROM wr LEFT JOIN pre ON pre.r = LEAST({_NDCG_K}, wr.n_rel)
    """


register("ext_ndcg", q_ext_ndcg, _ndcg_oracle())


# ---------------------------------------------------------------------------
# Per-source PII incidence audit — the measurement half of ext_redact's
# scrub, sharing its exact REDACT_PATTERNS so the two can never drift.
# PII is synthesized deterministically onto every third document so the
# counters are exercised on known ground truth. One narrow regexp pass;
# one partial-aggregated groupBy(source).
_PII_EMAIL = T.REDACT_PATTERNS[0][0]
_PII_NUM = T.REDACT_PATTERNS[1][0]


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
# Round-8 batch 2: time-series diagnostics on the bounded daily frame
# (Mann-Kendall trend, autocorrelation, day-of-week seasonality) and the
# omnibus ANOVA companion to the pairwise Welch test. Every one of these
# collapses the corpus in ONE partial-aggregated groupBy and runs the
# statistic on a calendar- or |sources|-bounded control-plane frame.

_DAILY_CENTS_SQL = (
    "SELECT CAST(ts AS DATE) AS day,"
    " CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)"
    " AS c"
    " FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1"
)


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    # Lazy-checkpoint the bounded daily frame: Mann-Kendall reads it
    # three times (both pair sides + ties) and ACF twice (num + den);
    # without this each branch would rescan the corpus (mixture_kl
    # discipline — one corpus pass, fan out from the materialized
    # control-plane frame).
    return (
        events.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(cents).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (Mann 1945; Kendall 1975) on the daily
# revenue series: S = sum over day pairs i<j of sign(c_j - c_i), with
# the tie-corrected variance. The pair join is over the CALENDAR-
# bounded daily frame (D days -> D(D-1)/2 control-plane pairs,
# independent of corpus rows), broadcast on one side — the deliberate
# bounded-BNL shape, like the exact ANN baselines. S and the variance
# numerator are exact BIGINTs; z is a fixed IEEE tail (sqrt is
# IEEE-exact in both engines) quantized at the source.


def q_ext_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    a = daily.select(F.col("day").alias("da"), F.col("c").alias("ca"))
    b = daily.select(F.col("day").alias("db"), F.col("c").alias("cb"))
    sign = (
        F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
    )
    s = (
        a.join(F.broadcast(b), F.col("da") < F.col("db"))
        .agg(F.sum(sign).cast("long").alias("s_stat"))
    )
    # tie groups over equal daily values
    ties = (
        daily.groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("__tie_term"),
            F.sum("t").cast("long").alias("n_days"),
        )
    )
    j = s.crossJoin(F.broadcast(ties))
    n = F.col("n_days")
    var_num = (n * (n - 1) * (2 * n + 5) - F.col("__tie_term")).cast("long")
    var_d = var_num.cast("double") / F.lit(18.0)
    zraw = F.when(
        F.col("s_stat") > 0,
        (F.col("s_stat") - 1).cast("double") / F.sqrt(var_d),
    ).when(
        F.col("s_stat") < 0,
        (F.col("s_stat") + 1).cast("double") / F.sqrt(var_d),
    ).otherwise(F.lit(0.0))
    return j.select(
        "n_days",
        "s_stat",
        var_num.alias("var_num"),
        F.when(var_num > 0, stable_round(zraw, 6)).alias("z_stat"),
    )


def _mann_kendall_oracle() -> str:
    var_num = (
        "(n_days * (n_days - 1) * (2 * n_days + 5) - __tie_term)"
    )
    zraw = (
        f"(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)"
        f" / sqrt(CAST({var_num} AS DOUBLE) / 18.0)"
        f" WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)"
        f" / sqrt(CAST({var_num} AS DOUBLE) / 18.0)"
        f" ELSE 0.0 END)"
    )
    return f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    s AS (
        SELECT CAST(SUM(CASE WHEN b.c > a.c THEN 1
                             WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat
        FROM daily a JOIN daily b ON a.day < b.day
    ), ties AS (
        SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS __tie_term,
               CAST(SUM(t) AS BIGINT) AS n_days
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY c)
    )
    SELECT n_days, s_stat,
           CAST({var_num} AS BIGINT) AS var_num,
           CASE WHEN {var_num} > 0
                THEN {stable_round_sql(zraw, 6)} END AS z_stat
    FROM s, ties
    """


register("ext_mann_kendall", q_ext_mann_kendall, _mann_kendall_oracle())


# ---------------------------------------------------------------------------
# Autocorrelation of the daily revenue series at lags 1..7. With
# d_t = n * c_t - total (exact BIGINT — the mean never materializes),
# acf_l = sum_t d_t * d_{t+l} / sum_t d_t^2: the n^2 factors cancel, so
# numerator and denominator are exact DECIMAL(38,0) sums of BIGINT
# products over the bounded daily frame, and the estimate is one IEEE
# division of two exactly-determined values. Lags come from 7 LEAD
# columns over the calendar-bounded window — no self-join.
_ACF_MAX_LAG = 7


def q_ext_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    w_all = Window.partitionBy()
    w_ord = Window.orderBy("day")
    d = daily.select(
        "day",
        "c",
        F.count(F.lit(1)).over(w_all).cast("long").alias("__n"),
        F.sum("c").over(w_all).cast("long").alias("__tot"),
    ).select(
        "day",
        (F.col("__n") * F.col("c") - F.col("__tot")).alias("__d"),
    )
    leads = d.select(
        "day",
        "__d",
        *[
            F.lead("__d", l).over(w_ord).alias(f"__d{l}")
            for l in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    stack_expr = ", ".join(
        f"{l}, __d{l}" for l in range(1, _ACF_MAX_LAG + 1)
    )
    long = leads.select(
        "__d",
        F.expr(
            f"stack({_ACF_MAX_LAG}, {stack_expr}) AS (lag, __dl)"
        ),
    )
    den = d.agg(
        F.sum(F.col("__d").cast("decimal(38,0)") * F.col("__d")).alias(
            "__den"
        )
    )
    num = (
        long.filter(F.col("__dl").isNotNull())
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("__d").cast("decimal(38,0)") * F.col("__dl")).alias(
                "__num"
            ),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.when(
                F.col("__den") > 0,
                F.col("__num").cast("double")
                / F.col("__den").cast("double"),
            ).alias("acf"),
        )
    )


def _acf_oracle() -> str:
    from be_analytic_etl_spark.functions.rounding import exact_dec_double_sql

    num_d = exact_dec_double_sql("__num")
    den_d = exact_dec_double_sql("__den")
    return f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    d AS (
        SELECT day,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) * c
                 - (SELECT CAST(SUM(c) AS BIGINT) FROM daily) AS __d
        FROM daily
    ), leads AS (
        SELECT __d, r.l AS lag,
               LEAD(__d, CAST(r.l AS INTEGER))
                   OVER (PARTITION BY r.l ORDER BY day) AS __dl
        FROM d, range(1, {_ACF_MAX_LAG + 1}) r(l)
    ), den AS (
        SELECT SUM(CAST(__d AS DECIMAL(38,0)) * __d) AS __den FROM d
    ), num AS (
        SELECT CAST(lag AS INTEGER) AS lag,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(CAST(__d AS DECIMAL(38,0)) * __dl) AS __num
        FROM leads WHERE __dl IS NOT NULL GROUP BY 1
    )
    SELECT lag, n_pairs,
           CASE WHEN __den > 0 THEN {num_d} / {den_d} END AS acf
    FROM num, den
    """


register("ext_acf", q_ext_acf, _acf_oracle())


# ---------------------------------------------------------------------------
# One-way ANOVA F across sources on the 6dp quality score — the omnibus
# companion to the pairwise ext_welch_ttest. Corpus work = the same ONE
# groupBy(source) exact-moment pass; SSB/SSW assemble from per-source
# (n_s, s1_s, s2_s) on a |sources|-row frame. Per-source terms
# s1_s^2/n_s quantize to DECIMAL(18,6) before the cross-source sums
# (bounded-term folds); F is a fixed IEEE tail quantized at the source.


def q_ext_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    q6 = (
        stable_round(T.quality_score("text", round_to=None), 6)
        .cast("decimal(18,6)")
        .alias("q6")
    )
    per = (
        docs.select("source", q6)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_s"),
            F.sum("q6").alias("s1"),
            F.sum(F.col("q6") * F.col("q6")).alias("s2"),
        )
    )
    term = stable_round(
        (F.col("s1").cast("double") * F.col("s1").cast("double"))
        / F.col("n_s").cast("double"),
        6,
    ).cast("decimal(18,6)")
    agg = per.agg(
        F.sum("n_s").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s1").alias("__s1"),
        F.sum("s2").alias("__s2"),
        F.sum(term).alias("__gterm"),
    )
    nd = F.col("n").cast("double")
    grand = (
        F.col("__s1").cast("double") * F.col("__s1").cast("double")
    ) / nd
    ssb = F.col("__gterm").cast("double") - grand
    ssw = F.col("__s2").cast("double") - F.col("__gterm").cast("double")
    dof1 = (F.col("k") - 1).cast("long")
    dof2 = (F.col("n") - F.col("k")).cast("long")
    fstat = (ssb / dof1.cast("double")) / (ssw / dof2.cast("double"))
    ok = (dof1 > 0) & (dof2 > 0) & (ssw > 0)
    return agg.select(
        "n",
        "k",
        dof1.alias("dof1"),
        dof2.alias("dof2"),
        stable_round(ssb, 6).alias("ss_between"),
        stable_round(ssw, 6).alias("ss_within"),
        F.when(ok, stable_round(fstat, 6)).alias("f_stat"),
    )


def _anova_oracle() -> str:
    from be_analytic_etl_spark.functions.rounding import exact_dec_double_sql
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

    s1d = exact_dec_double_sql("s1")
    g1d = exact_dec_double_sql("__s1")
    g2d = exact_dec_double_sql("__s2")
    term = stable_round_sql(
        f"({s1d} * {s1d} / CAST(n_s AS DOUBLE))", 6
    )
    grand = f"({g1d} * {g1d} / CAST(n AS DOUBLE))"
    ssb = f"(CAST(__gterm AS DOUBLE) - {grand})"
    ssw = f"({g2d} - CAST(__gterm AS DOUBLE))"
    fstat = (
        f"(({ssb} / CAST(k - 1 AS DOUBLE))"
        f" / ({ssw} / CAST(n - k AS DOUBLE)))"
    )
    return f"""
    WITH {qscore_feature_ctes('source')}, sq AS (
        SELECT source,
               CAST({stable_round_sql(_QSCORE_SQL, 6)} AS DECIMAL(18,6)) AS q6
        FROM m
    ), per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
               SUM(q6) AS s1, SUM(q6 * q6) AS s2
        FROM sq GROUP BY source
    ), a AS (
        SELECT CAST(SUM(n_s) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM(s1) AS __s1, SUM(s2) AS __s2,
               SUM(CAST({term} AS DECIMAL(18,6))) AS __gterm
        FROM per
    )
    SELECT n, k,
           CAST(k - 1 AS BIGINT) AS dof1,
           CAST(n - k AS BIGINT) AS dof2,
           {stable_round_sql(ssb, 6)} AS ss_between,
           {stable_round_sql(ssw, 6)} AS ss_within,
           CASE WHEN k > 1 AND n > k AND {ssw} > 0
                THEN {stable_round_sql(fstat, 6)} END AS f_stat
    FROM a
    """


register("ext_anova_f", q_ext_anova_f, _anova_oracle())


# ---------------------------------------------------------------------------
# Day-of-week seasonality profile of event revenue: per ISO weekday,
# the exact daily-mean revenue and its index vs the overall daily mean.
# All counts/sums exact; the index is one IEEE division of exact BIGINT
# products ((tot_dow * n_days) / (n_days_dow * tot) — magnitudes
# bounded by total-cents x calendar-days, < 2^63 with wide margin).


def q_ext_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    w_all = Window.partitionBy()
    per = (
        daily.select(F.expr("weekday(day)").cast("int").alias("dow"), "c")
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("c").cast("long").alias("total_cents"),
        )
    )
    per = per.select(
        "dow",
        "n_days",
        "total_cents",
        F.sum("n_days").over(w_all).cast("long").alias("__nd"),
        F.sum("total_cents").over(w_all).cast("long").alias("__tc"),
    )
    mean_daily = F.col("total_cents").cast("double") / (
        F.col("n_days") * 100
    ).cast("double")
    idx = (F.col("total_cents") * F.col("__nd")).cast("double") / (
        F.col("n_days") * F.col("__tc")
    ).cast("double")
    return per.select(
        "dow",
        "n_days",
        "total_cents",
        mean_daily.alias("mean_daily_value"),
        F.when(F.col("__tc") > 0, idx).alias("dow_index"),
    )


def _dow_oracle() -> str:
    return f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    per AS (
        SELECT CAST(isodow(day) - 1 AS INTEGER) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(c) AS BIGINT) AS total_cents
        FROM daily GROUP BY 1
    ), t AS (
        SELECT CAST(SUM(n_days) AS BIGINT) AS __nd,
               CAST(SUM(total_cents) AS BIGINT) AS __tc
        FROM per
    )
    SELECT dow, n_days, total_cents,
           CAST(total_cents AS DOUBLE) / CAST(n_days * 100 AS DOUBLE)
               AS mean_daily_value,
           CASE WHEN __tc > 0
                THEN CAST(total_cents * __nd AS DOUBLE)
                     / CAST(n_days * __tc AS DOUBLE) END AS dow_index
    FROM per, t
    """


register("ext_dow_seasonality", q_ext_dow_seasonality, _dow_oracle())


# ===========================================================================
# Round-8 batch 3: corpus-shape text diagnostics.

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
# Class separation of the embedding space (Davies & Bouldin, IEEE TPAMI
# 1979): per label, the intra-class scatter s_i (mean distance to the
# label centroid) and the DB term max_{j != i} (s_i + s_j) / d_ij —
# the embedding-quality eval that says whether the stored labels are
# geometrically separable, beside the rank-based ext_knn_label_agreement.
#
# Scale shape: centroids come from ONE posexplode partial-agg
# (|labels| x dim shuffle payload); member distances are a map-side
# zip_with fold against the BROADCAST centroid table; everything after
# is |labels|^2 control-plane. Float discipline: per-dim values and
# member distances quantize via stable_round(., 9) BEFORE their exact
# DECIMAL(28,9) sums (a raw double->decimal cast is each engine's own
# rounding — the F.round divergence class — and mis-hashed at sf0.01),
# distances are the engine-proven sequential zip_with fold, and emitted
# ratios quantize at the source.


def q_ext_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.similarity import _vec

    emb = _t(spark, sf_dir, "embeddings")
    ve = _vec("embedding")
    ex = emb.select("label", F.posexplode(ve).alias("pos", "x"))
    centd = ex.groupBy("label", "pos").agg(
        F.sum(stable_round(F.col("x"), 9).cast("decimal(28,9)")).alias(
            "__sx"
        ),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    cent = centd.select(
        "label",
        "pos",
        (F.col("__sx").cast("double") / F.col("__n").cast("double")).alias(
            "c"
        ),
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cvec")
    )
    j = emb.select("label", ve.alias("__e")).join(F.broadcast(carr), "label")
    d2 = F.aggregate(
        F.zip_with(
            F.col("__e"), F.col("cvec"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    si = (
        j.select("label", F.sqrt(d2).alias("__dist"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(stable_round(F.col("__dist"), 9).cast("decimal(28,9)")).alias(
                "__sd"
            ),
        )
        .select(
            "label",
            "n",
            (F.col("__sd").cast("double") / F.col("n").cast("double")).alias(
                "s_intra"
            ),
        )
    )
    a = carr.select(F.col("label").alias("la"), F.col("cvec").alias("ca"))
    b = carr.select(F.col("label").alias("lb"), F.col("cvec").alias("cb"))
    dij = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("ca"), F.col("cb"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    pr = (
        a.join(F.broadcast(b), F.col("la") != F.col("lb"))
        .select("la", "lb", dij.alias("__dij"))
        .filter(F.col("__dij") > 0)
    )
    sia = si.select(
        F.col("label").alias("la"),
        F.col("n").alias("n"),
        F.col("s_intra").alias("__si"),
    )
    sib = si.select(F.col("label").alias("lb"), F.col("s_intra").alias("__sj"))
    rt = pr.join(F.broadcast(sia), "la").join(F.broadcast(sib), "lb")
    ratio = (F.col("__si") + F.col("__sj")) / F.col("__dij")
    w = Window.partitionBy("la").orderBy(ratio.desc(), F.col("lb").asc())
    top = rt.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    return top.select(
        F.col("la").alias("label"),
        "n",
        F.col("__si").alias("s_intra"),
        F.col("lb").alias("worst_other"),
        stable_round(ratio, 6).alias("db_term"),
    )


def _class_separation_oracle() -> str:
    from be_analytic_etl_spark.functions.rounding import exact_dec_double_sql

    def sqd(va: str, vb: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, len({va}) + 1),"
            f" i -> (CAST({va}[i] AS DOUBLE) - CAST({vb}[i] AS DOUBLE))"
            f" * (CAST({va}[i] AS DOUBLE) - CAST({vb}[i] AS DOUBLE))),"
            f" (acc, x) -> acc + x)"
        )

    sxd = exact_dec_double_sql("sx")
    sdd = exact_dec_double_sql("__sd")
    ratio = "((__si + __sj) / __dij)"
    return f"""
    WITH ex AS (
        SELECT label,
               CAST(u.u['pos'] - 1 AS INTEGER) AS pos,
               CAST(u.u['x'] AS DOUBLE) AS x
        FROM (
            SELECT label,
                   unnest(list_transform(range(1, len(embedding) + 1),
                          i -> {{'pos': i, 'x': embedding[i]}})) AS u
            FROM embeddings
        ) u
    ), centd AS (
        SELECT label, pos,
               SUM(CAST({stable_round_sql("x", 9)} AS DECIMAL(28,9))) AS sx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ex GROUP BY 1, 2
    ), cent AS (
        SELECT label, pos, {sxd} / CAST(n AS DOUBLE) AS c FROM centd
    ), carr AS (
        SELECT label, list(c ORDER BY pos) AS cvec FROM cent GROUP BY 1
    ), member AS (
        SELECT e.label, sqrt({sqd("e.embedding", "carr.cvec")}) AS dist
        FROM embeddings e JOIN carr USING (label)
    ), si AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST({stable_round_sql("dist", 9)} AS DECIMAL(28,9)))
                   AS __sd
        FROM member GROUP BY label
    ), sif AS (
        SELECT label, n, {sdd} / CAST(n AS DOUBLE) AS s_intra FROM si
    ), pr AS (
        SELECT a.label AS la, b.label AS lb,
               sqrt({sqd("a.cvec", "b.cvec")}) AS __dij
        FROM carr a JOIN carr b ON a.label <> b.label
    ), rt AS (
        SELECT pr.la, pr.lb, sa.n, sa.s_intra AS __si, sb.s_intra AS __sj,
               pr.__dij
        FROM pr
        JOIN sif sa ON sa.label = pr.la
        JOIN sif sb ON sb.label = pr.lb
        WHERE pr.__dij > 0
    ), rk AS (
        SELECT la, lb, n, __si, __sj, __dij,
               ROW_NUMBER() OVER (
                   PARTITION BY la ORDER BY {ratio} DESC, lb ASC) AS rn
        FROM rt
    )
    SELECT la AS label, n, __si AS s_intra, lb AS worst_other,
           {stable_round_sql(ratio, 6)} AS db_term
    FROM rk WHERE rn = 1
    """


register(
    "ext_class_separation", q_ext_class_separation, _class_separation_oracle()
)
