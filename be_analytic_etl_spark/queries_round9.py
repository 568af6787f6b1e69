"""Round-9 extension queries.

The rank-based effect sizes and seasonal decomposition the round-8
verdict named, plus the association / robust-stats / agreement
monitoring companions that family still lacked:

- ``ext_cliffs_delta``: per-source Cliff's delta (Cliff, Psych. Bull.
  1993) of document length vs the rest of the corpus — the
  nonparametric effect size behind "is this source systematically
  longer", via the same bounded-histogram rank algebra as
  ``ext_roc_auc``.
- ``ext_mann_whitney``: per-language Mann-Whitney U test (Mann &
  Whitney 1947) of the quality score vs the rest — U, the
  rank-biserial correlation (Cureton 1956), and the tie-corrected
  normal z. The TEST companion to ``ext_roc_auc``'s pure AUC readout.
- ``ext_seasonal_decompose``: additive trend/seasonal/remainder
  decomposition of the daily revenue series (classical decomposition;
  the composition of the r8 Mann-Kendall/DOW pieces) on the
  calendar-bounded daily frame.
- ``ext_theil_sen``: Theil-Sen robust trend slope (Theil 1950; Sen,
  JASA 1968) — the median of all pairwise daily slopes.
- ``ext_kendall_tau``: Kendall tau-b (Kendall 1945) between quality
  deciles and length buckets from the bounded joint contingency —
  the rank-association companion to the r7 ``ext_spearman_corr``.
- ``ext_gini_tokens``: Gini coefficient (1912) of per-document token
  counts — DOCUMENT-level corpus concentration via exact tie-block
  rank algebra on the token-count histogram (``ext_source_gini`` is
  the 20-row source-level read; this one answers "do 10% of documents
  hold most of the tokens" without ranking the corpus).
- ``ext_token_lorenz``: the Lorenz curve behind that Gini — cumulative
  token share at each document-count decile, exact threshold-rank
  selection over the same bounded histogram.
- ``ext_levene``: Brown-Forsythe variance-homogeneity test (Brown &
  Forsythe, JASA 1974) of the quality score across sources — the
  spread companion to ``ext_anova_f``'s mean test, on absolute
  deviations from exact per-source medians.
- ``ext_mcnemar``: McNemar's test (1947) on the two resident quality
  classifiers' disagreement cells — marginal-homogeneity companion to
  the r7 ``ext_cohens_kappa`` agreement read.
- ``ext_brier_decomp``: Brier score (1950) with the Murphy (1973)
  reliability / resolution / uncertainty decomposition of the quality
  classifier against the substantial-document label — the third leg
  beside ``ext_roc_auc`` (ranking) and ``ext_calibration_ece``
  (calibration).
- ``ext_runs_test``: Wald-Wolfowitz runs test (1940) of the daily
  revenue series around its exact median — randomness check that
  complements the Mann-Kendall monotone-trend read.

Scale shapes: every query collapses the corpus in ONE partial-aggregated
groupBy (documents -> value/score histograms or contingency cells;
events -> the lazily-checkpointed ``_daily_cents`` frame shared with
round 8); all rank/pair/decomposition work then runs on value-domain- or
calendar-bounded control-plane frames. The pairwise joins (Theil-Sen
slopes, tau-b cell pairs) are deliberate bounded-broadcast shapes like
``ext_mann_kendall``. Float discipline (SCALE.md, all six divergence
classes): accumulators are BIGINT/DECIMAL exact; sqrt/division tails are
single fixed-order IEEE expressions mirrored verbatim in the oracles;
anything irrational that feeds a sum or a decimal cast passes
``stable_round`` first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.ranks import middle_ranks
from be_analytic_etl_spark.functions.rounding import (
    exact_dec_double_sql,
    stable_round,
    stable_round_sql,
)
from be_analytic_etl_spark.operators import textstats as T
from be_analytic_etl_spark.queries_extensions import _TOKS, _t
from be_analytic_etl_spark.queries_round8 import _DAILY_CENTS_SQL, _daily_cents
from be_analytic_etl_spark.registry import register


def _q6() -> F.Column:
    """The repo's canonical exact quality score: stable-rounded to 6dp
    and carried as DECIMAL(18,6) so equal scores group exactly."""
    return (
        stable_round(T.quality_score("text", round_to=None), 6)
        .cast("decimal(18,6)")
        .alias("__q6")
    )


def _q6_cte() -> str:
    """Oracle twin of ``_q6`` over the shared qscore feature CTEs:
    yields CTE block text ending with sq(__q6 [, carried cols])."""
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

    return (
        f"{qscore_feature_ctes('doc_id, source, lang, n_chars')}, sq AS ("
        f" SELECT source, lang, n_chars,"
        f" CAST({stable_round_sql(_QSCORE_SQL, 6)} AS DECIMAL(18,6)) AS __q6"
        f" FROM m)"
    )


# ---------------------------------------------------------------------------
# Cliff's delta of document length per source vs the rest of the corpus:
# delta_s = (#(x > y) - #(x < y)) / (n_s * (N - n_s)) over pairs (x from
# source s, y from the rest). The corpus collapses to the (source,
# n_chars) histogram; win counts come from cumulative rest-below counts
# (rest_below = global_below - source_below), so wins/ties/losses are
# exact DECIMAL sums and losses never need their own pass:
# losses = n_s*(N-n_s) - wins - ties. One corpus groupBy; the windows
# run on the value-domain-bounded histogram (roc_auc discipline).


def q_ext_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = (
        docs.filter(F.col("n_chars").isNotNull())
        .groupBy("source", F.col("n_chars").alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        # the bounded histogram feeds the global cumsum AND the
        # per-source cumsum: checkpoint so the corpus scans once
        .localCheckpoint(eager=False)
    )
    g0 = h.groupBy("__v").agg(F.sum("__c").cast("long").alias("__g"))
    wb = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    g = g0.select(
        "__v",
        "__g",
        F.coalesce(F.sum("__g").over(wb), F.lit(0)).cast("long").alias("__gb"),
    )
    ws = (
        Window.partitionBy("source")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hs = h.select(
        "source",
        "__v",
        "__c",
        F.coalesce(F.sum("__c").over(ws), F.lit(0)).cast("long").alias("__sb"),
    )
    j = hs.join(g, "__v")
    per = j.groupBy("source").agg(
        F.sum("__c").cast("long").alias("n_docs"),
        F.sum(
            F.col("__c").cast("decimal(38,0)") * (F.col("__gb") - F.col("__sb"))
        ).alias("__wins"),
        F.sum(
            F.col("__c").cast("decimal(38,0)") * (F.col("__g") - F.col("__c"))
        ).alias("__ties"),
    )
    tot = per.agg(F.sum("n_docs").cast("long").alias("__n"))
    out = per.crossJoin(F.broadcast(tot))
    num = (
        F.lit(2) * F.col("__wins")
        + F.col("__ties")
        - F.col("n_docs").cast("decimal(38,0)") * (F.col("__n") - F.col("n_docs"))
    )
    den = F.col("n_docs").cast("double") * (
        F.col("__n") - F.col("n_docs")
    ).cast("double")
    return out.select(
        "source",
        "n_docs",
        F.col("__wins").cast("long").alias("wins"),
        F.col("__ties").cast("long").alias("ties"),
        F.when(F.col("n_docs") < F.col("__n"), num.cast("double") / den).alias(
            "cliffs_delta"
        ),
    )


def _cliffs_oracle() -> str:
    num = (
        "(2 * __wins + __ties"
        " - CAST(n_docs AS DECIMAL(38,0)) * (__n - n_docs))"
    )
    return f"""
    WITH h AS (
        SELECT source, n_chars AS __v, CAST(COUNT(*) AS BIGINT) AS __c
        FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ), g0 AS (
        SELECT __v, CAST(SUM(__c) AS BIGINT) AS __g FROM h GROUP BY 1
    ), g AS (
        SELECT __v, __g,
               CAST(COALESCE(SUM(__g) OVER (ORDER BY __v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS __gb
        FROM g0
    ), hs AS (
        SELECT source, __v, __c,
               CAST(COALESCE(SUM(__c) OVER (PARTITION BY source ORDER BY __v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS __sb
        FROM h
    ), per AS (
        SELECT source, CAST(SUM(__c) AS BIGINT) AS n_docs,
               SUM(CAST(__c AS DECIMAL(38,0)) * (g.__gb - hs.__sb)) AS __wins,
               SUM(CAST(__c AS DECIMAL(38,0)) * (g.__g - hs.__c)) AS __ties
        FROM hs JOIN g USING (__v) GROUP BY 1
    ), t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS __n FROM per)
    SELECT source, n_docs,
           CAST(__wins AS BIGINT) AS wins,
           CAST(__ties AS BIGINT) AS ties,
           CASE WHEN n_docs < __n
                THEN {exact_dec_double_sql(num)}
                     / (CAST(n_docs AS DOUBLE) * CAST(__n - n_docs AS DOUBLE))
                END AS cliffs_delta
    FROM per, t
    """


register("ext_cliffs_delta", q_ext_cliffs_delta, _cliffs_oracle())


# ---------------------------------------------------------------------------
# Mann-Whitney U test of the quality score per language vs the rest:
# 2U accumulates exactly from the (lang, score) histogram (the roc_auc
# rank-sum identity); rank-biserial r = (2U - n1*n2) / (n1*n2) is one
# IEEE division of exact values; z uses the tie-corrected variance
# sigma^2 = (n1*n2/12) * ((n+1) - T3/(n*(n-1))) with T3 = sum over
# global tie groups of t^3 - t (exact DECIMAL), and is quantized at the
# source (sqrt is a libm-free IEEE op, but the compound tail is
# emitted stable-rounded like the Mann-Kendall z).


def q_ext_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = (
        docs.select("lang", _q6())
        .groupBy("lang", "__q6")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        # three consumers (global cumsum, tie term, per-lang cumsum):
        # checkpoint so the tokenize-heavy score pass runs once
        .localCheckpoint(eager=False)
    )
    g0 = h.groupBy("__q6").agg(F.sum("__c").cast("long").alias("__g"))
    wb = Window.orderBy("__q6").rowsBetween(Window.unboundedPreceding, -1)
    g = g0.select(
        "__q6",
        "__g",
        F.coalesce(F.sum("__g").over(wb), F.lit(0)).cast("long").alias("__gb"),
    )
    t3 = g0.agg(
        F.sum(
            F.col("__g").cast("decimal(38,0)")
            * (F.col("__g") - 1)
            * (F.col("__g") + 1)
        ).alias("__t3")
    )
    ws = (
        Window.partitionBy("lang")
        .orderBy("__q6")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hs = h.select(
        "lang",
        "__q6",
        "__c",
        F.coalesce(F.sum("__c").over(ws), F.lit(0)).cast("long").alias("__sb"),
    )
    j = hs.join(g, "__q6")
    per = j.groupBy("lang").agg(
        F.sum("__c").cast("long").alias("n_docs"),
        F.sum(
            F.col("__c").cast("decimal(38,0)")
            * (
                F.lit(2) * (F.col("__gb") - F.col("__sb"))
                + (F.col("__g") - F.col("__c"))
            )
        ).alias("__u2"),
    )
    tot = per.agg(F.sum("n_docs").cast("long").alias("__n"))
    out = per.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(t3))
    n1d = F.col("n_docs").cast("double")
    n2d = (F.col("__n") - F.col("n_docs")).cast("double")
    nd = F.col("__n").cast("double")
    znum = (
        F.col("__u2")
        - F.col("n_docs").cast("decimal(38,0)") * (F.col("__n") - F.col("n_docs"))
    ).cast("double")
    var = (n1d * n2d / F.lit(12.0)) * (
        (nd + F.lit(1.0))
        - F.col("__t3").cast("double") / (nd * (nd - F.lit(1.0)))
    )
    ok = (F.col("n_docs") > 0) & (F.col("n_docs") < F.col("__n"))
    return out.select(
        "lang",
        "n_docs",
        F.col("__u2").cast("long").alias("u2"),
        F.when(ok, znum / (n1d * n2d)).alias("rank_biserial"),
        F.when(
            ok & (F.col("__n") > 1),
            F.when(var > 0, stable_round(znum / (F.lit(2.0) * F.sqrt(var)), 6)),
        ).alias("z_stat"),
    )


def _mw_oracle() -> str:
    znum = exact_dec_double_sql(
        "(__u2 - CAST(n_docs AS DECIMAL(38,0)) * (__n - n_docs))"
    )
    n1d = "CAST(n_docs AS DOUBLE)"
    n2d = "CAST(__n - n_docs AS DOUBLE)"
    nd = "CAST(__n AS DOUBLE)"
    t3d = exact_dec_double_sql("__t3")
    var = (
        f"(({n1d} * {n2d} / 12.0)"
        f" * (({nd} + 1.0) - {t3d} / ({nd} * ({nd} - 1.0))))"
    )
    z = f"({znum} / (2.0 * sqrt({var})))"
    return f"""
    WITH {_q6_cte()}, h AS (
        SELECT lang, __q6, CAST(COUNT(*) AS BIGINT) AS __c
        FROM sq GROUP BY 1, 2
    ), g0 AS (
        SELECT __q6, CAST(SUM(__c) AS BIGINT) AS __g FROM h GROUP BY 1
    ), g AS (
        SELECT __q6, __g,
               CAST(COALESCE(SUM(__g) OVER (ORDER BY __q6
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS __gb
        FROM g0
    ), t3 AS (
        SELECT SUM(CAST(__g AS DECIMAL(38,0)) * (__g - 1) * (__g + 1)) AS __t3
        FROM g0
    ), hs AS (
        SELECT lang, __q6, __c,
               CAST(COALESCE(SUM(__c) OVER (PARTITION BY lang ORDER BY __q6
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS __sb
        FROM h
    ), per AS (
        SELECT lang, CAST(SUM(__c) AS BIGINT) AS n_docs,
               SUM(CAST(__c AS DECIMAL(38,0))
                   * (2 * (g.__gb - hs.__sb) + (g.__g - hs.__c))) AS __u2
        FROM hs JOIN g USING (__q6) GROUP BY 1
    ), t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS __n FROM per)
    SELECT lang, n_docs,
           CAST(__u2 AS BIGINT) AS u2,
           CASE WHEN n_docs > 0 AND n_docs < __n
                THEN {znum} / ({n1d} * {n2d}) END AS rank_biserial,
           CASE WHEN n_docs > 0 AND n_docs < __n AND __n > 1
                THEN CASE WHEN {var} > 0
                          THEN {stable_round_sql(z, 6)} END
                END AS z_stat
    FROM per, t, t3
    """


register("ext_mann_whitney", q_ext_mann_whitney, _mw_oracle())


# ---------------------------------------------------------------------------
# Additive seasonal decomposition of the daily revenue series:
# value = trend + seasonal + remainder, with trend the centered 7-day
# mean (exact window sums, one IEEE division), seasonal the day-of-week
# mean deviation from the overall daily mean (divisions of exact
# BIGINTs), and the remainder what is left. The corpus collapses once
# into the lazily-checkpointed daily frame (shared with Mann-Kendall /
# ACF / DOW); everything here is calendar-bounded control-plane work.
# Every emitted double is a fixed-order combination of divisions of
# exact integers — mirrored verbatim in the oracle, no libm anywhere.


def seasonal_from_daily(daily: DataFrame) -> DataFrame:
    """The decomposition over ANY (day, c) frame: the registered query
    collapses the events to one row per day, then calls this."""
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    d1 = daily.select(
        "day",
        "c",
        F.sum("c").over(w7).cast("long").alias("__s7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("__n7"),
        F.expr("weekday(day)").cast("int").alias("dow"),
    )
    dows = d1.groupBy("dow").agg(
        F.sum("c").cast("long").alias("__sd"),
        F.count(F.lit(1)).cast("long").alias("__ndow"),
    )
    tot = daily.agg(
        F.sum("c").cast("long").alias("__tc"),
        F.count(F.lit(1)).cast("long").alias("__nd"),
    )
    j = d1.join(F.broadcast(dows), "dow").crossJoin(F.broadcast(tot))
    trend = F.col("__s7").cast("double") / F.col("__n7").cast("double")
    seasonal = F.col("__sd").cast("double") / F.col("__ndow").cast("double") - F.col(
        "__tc"
    ).cast("double") / F.col("__nd").cast("double")
    return j.select(
        "day",
        F.col("c").alias("cents"),
        "dow",
        trend.alias("trend_cents"),
        seasonal.alias("seasonal_cents"),
        (F.col("c").cast("double") - trend - seasonal).alias("remainder_cents"),
    )


def q_ext_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    return seasonal_from_daily(_daily_cents(spark, sf_dir))


def _seasonal_oracle() -> str:
    trend = "(CAST(__s7 AS DOUBLE) / CAST(__n7 AS DOUBLE))"
    seasonal = (
        "(CAST(__sd AS DOUBLE) / CAST(__ndow AS DOUBLE)"
        " - CAST(__tc AS DOUBLE) / CAST(__nd AS DOUBLE))"
    )
    return f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    d1 AS (
        SELECT day, c,
               CAST(SUM(c) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS __s7,
               CAST(COUNT(*) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS __n7,
               CAST(isodow(day) - 1 AS INTEGER) AS dow
        FROM daily
    ), dows AS (
        SELECT dow, CAST(SUM(c) AS BIGINT) AS __sd,
               CAST(COUNT(*) AS BIGINT) AS __ndow
        FROM d1 GROUP BY 1
    ), t AS (
        SELECT CAST(SUM(c) AS BIGINT) AS __tc,
               CAST(COUNT(*) AS BIGINT) AS __nd
        FROM daily
    )
    SELECT day, c AS cents, d1.dow,
           {trend} AS trend_cents,
           {seasonal} AS seasonal_cents,
           CAST(c AS DOUBLE) - {trend} - {seasonal} AS remainder_cents
    FROM d1 JOIN dows USING (dow), t
    """


register("ext_seasonal_decompose", q_ext_seasonal_decompose, _seasonal_oracle())


# ---------------------------------------------------------------------------
# Theil-Sen robust trend slope of the daily revenue series: the median
# of all D(D-1)/2 pairwise slopes (cents/day). The pair join is over
# the calendar-bounded daily frame, broadcast on one side (the
# Mann-Kendall shape); each slope is one IEEE division of exact
# integers, and the median is exact two-middle-rank selection over the
# slope ordering (NO percentile interpolation — engine quantile
# semantics differ), so the single emitted double is (s_lo + s_hi) / n
# of identically-computed doubles.


def q_ext_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    a = daily.select(F.col("day").alias("da"), F.col("c").alias("ca"))
    b = daily.select(F.col("day").alias("db"), F.col("c").alias("cb"))
    slope = (F.col("cb") - F.col("ca")).cast("double") / F.datediff(
        F.col("db"), F.col("da")
    ).cast("double")
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db")).select(
        slope.alias("__slope")
    )
    w = Window.orderBy("__slope")
    ranked = pairs.select(
        "__slope",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("__np"),
    )
    r_lo, r_hi = middle_ranks(F.col("__np"))
    mid = ranked.filter((F.col("__rn") == r_lo) | (F.col("__rn") == r_hi))
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    med = mid.agg(
        F.max("__np").cast("long").alias("n_pairs"),
        (F.sum("__slope") / F.count(F.lit(1)).cast("double")).alias(
            "theil_sen_slope"
        ),
    )
    return n_days.crossJoin(F.broadcast(med)).select(
        "n_days", "n_pairs", "theil_sen_slope"
    )


def _theil_sen_oracle() -> str:
    return f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    pairs AS (
        SELECT CAST(b.c - a.c AS DOUBLE)
                   / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS __slope
        FROM daily a JOIN daily b ON a.day < b.day
    ), ranked AS (
        SELECT __slope,
               ROW_NUMBER() OVER (ORDER BY __slope) AS __rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS __np
        FROM pairs
    ), mid AS (
        SELECT CAST(MAX(__np) AS BIGINT) AS n_pairs,
               SUM(__slope) / CAST(COUNT(*) AS DOUBLE) AS theil_sen_slope
        FROM ranked
        WHERE __rn = (__np + 1) // 2 OR __rn = __np // 2 + 1
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           n_pairs, theil_sen_slope
    FROM mid
    """


register("ext_theil_sen", q_ext_theil_sen, _theil_sen_oracle())


# ---------------------------------------------------------------------------
# Kendall tau-b between quality-score deciles and length buckets. The
# corpus collapses to the <= 10 x 30 joint contingency; concordant /
# discordant pair counts come from the cell-pair self-join (bounded
# broadcast non-equi join — control-plane, the deliberate
# Mann-Kendall/exact-ANN shape), tie corrections from the marginals.
# C, D, and the tie terms are exact (t*(t-1) is even, so the /2 integer
# divisions are exact); tau-b's sqrt tail is quantized at the source.
_TAU_SCORE_BINS = 10
_TAU_LEN_DIV = 200
_TAU_LEN_MAX = 29


def _tau_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("n_chars").isNotNull()).select(_q6(), "n_chars")
    bx = F.least(
        F.floor(F.col("__q6") * _TAU_SCORE_BINS).cast("int"),
        F.lit(_TAU_SCORE_BINS - 1),
    )
    by = F.least(
        F.floor(F.col("n_chars") / F.lit(float(_TAU_LEN_DIV))).cast("int"),
        F.lit(_TAU_LEN_MAX),
    )
    return (
        base.select(bx.alias("__bx"), by.alias("__by"))
        .groupBy("__bx", "__by")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=False)
    )


def q_ext_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _tau_cells(spark, sf_dir)
    a = cells.select(
        F.col("__bx").alias("__x1"), F.col("__by").alias("__y1"),
        F.col("__c").alias("__c1"),
    )
    b = cells.select(
        F.col("__bx").alias("__x2"), F.col("__by").alias("__y2"),
        F.col("__c").alias("__c2"),
    )
    pairs = a.join(F.broadcast(b), F.col("__x1") < F.col("__x2"))
    prod = F.col("__c1").cast("decimal(38,0)") * F.col("__c2")
    cd = pairs.agg(
        F.sum(F.when(F.col("__y1") < F.col("__y2"), prod)).alias("__conc"),
        F.sum(F.when(F.col("__y1") > F.col("__y2"), prod)).alias("__disc"),
    )
    xt = (
        cells.groupBy("__bx")
        .agg(F.sum("__c").cast("long").alias("__t"))
        .agg(
            F.sum(
                F.col("__t").cast("decimal(38,0)") * (F.col("__t") - 1) / 2
            ).alias("__n1"),
            F.sum("__t").cast("long").alias("n_docs"),
        )
    )
    yt = (
        cells.groupBy("__by")
        .agg(F.sum("__c").cast("long").alias("__t"))
        .agg(
            F.sum(
                F.col("__t").cast("decimal(38,0)") * (F.col("__t") - 1) / 2
            ).alias("__n2")
        )
    )
    j = cd.crossJoin(F.broadcast(xt)).crossJoin(F.broadcast(yt))
    n0 = (
        F.col("n_docs").cast("decimal(38,0)") * (F.col("n_docs") - 1) / 2
    )
    # decimal-exempt: exact-integer pair-count sums (the sqrt below is
    # the tau tail, not these casts' operand)
    conc = F.coalesce(F.col("__conc"), F.lit(0).cast("decimal(38,0)"))
    disc = F.coalesce(F.col("__disc"), F.lit(0).cast("decimal(38,0)"))
    d1 = (n0 - F.col("__n1")).cast("double")
    d2 = (n0 - F.col("__n2")).cast("double")
    tau = (conc - disc).cast("double") / F.sqrt(d1 * d2)
    return j.select(
        "n_docs",
        conc.cast("long").alias("concordant"),
        disc.cast("long").alias("discordant"),
        F.when((d1 > 0) & (d2 > 0), stable_round(tau, 6)).alias("tau_b"),
    )


def _kendall_oracle() -> str:
    bx = (
        f"LEAST(CAST(FLOOR(__q6 * {_TAU_SCORE_BINS}) AS INTEGER),"
        f" {_TAU_SCORE_BINS - 1})"
    )
    by = (
        f"LEAST(CAST(FLOOR(n_chars / {float(_TAU_LEN_DIV)!r}) AS INTEGER),"
        f" {_TAU_LEN_MAX})"
    )
    # decimal-exempt: exact-integer rank count (t*(t-1) is even)
    n0 = "(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) / 2)"
    d1 = f"CAST({n0} - __n1 AS DOUBLE)"
    d2 = f"CAST({n0} - __n2 AS DOUBLE)"
    tau = (
        f"({exact_dec_double_sql('(__conc - __disc)')} / sqrt({d1} * {d2}))"
    )
    return f"""
    WITH {_q6_cte()}, cells AS (
        SELECT {bx} AS __bx, {by} AS __by, CAST(COUNT(*) AS BIGINT) AS __c
        FROM sq WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ), cd AS (
        SELECT SUM(CASE WHEN a.__by < b.__by
                        THEN CAST(a.__c AS DECIMAL(38,0)) * b.__c END)
                   AS __conc,
               SUM(CASE WHEN a.__by > b.__by
                        THEN CAST(a.__c AS DECIMAL(38,0)) * b.__c END)
                   AS __disc
        FROM cells a JOIN cells b ON a.__bx < b.__bx
    ), xt AS (
        SELECT SUM(CAST(__t AS DECIMAL(38,0)) * (__t - 1) / 2) AS __n1,
               CAST(SUM(__t) AS BIGINT) AS n_docs
        FROM (SELECT CAST(SUM(__c) AS BIGINT) AS __t FROM cells GROUP BY __bx)
    ), yt AS (
        SELECT SUM(CAST(__t AS DECIMAL(38,0)) * (__t - 1) / 2) AS __n2
        FROM (SELECT CAST(SUM(__c) AS BIGINT) AS __t FROM cells GROUP BY __by)
    )
    SELECT n_docs,
           CAST(COALESCE(__conc, 0) AS BIGINT) AS concordant,
           CAST(COALESCE(__disc, 0) AS BIGINT) AS discordant,
           CASE WHEN {d1} > 0 AND {d2} > 0
                THEN {stable_round_sql(tau, 6)} END AS tau_b
    FROM cd, xt, yt
    """


register("ext_kendall_tau", q_ext_kendall_tau, _kendall_oracle())


# ---------------------------------------------------------------------------
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
# Brier score with the Murphy (1973) decomposition — reliability,
# resolution, uncertainty — of the quality score as a probability of
# the substantial-document label: the proper-scoring-rule leg beside
# ext_roc_auc (ranking) and ext_calibration_ece (calibration); reuses
# round 7's (score, pos) pairing so all three grade ONE classifier.
# The Brier sum accumulates exactly because (p - y) is narrowed to
# DECIMAL(8,6) BEFORE squaring: |score - pos| <= 1, so the narrow cast
# is lossless, and the product type is decimal(17,12) — exact. (At the
# natural decimal(19,6) operand width the product would overflow
# precision 38 and Spark silently narrows the result scale to 11
# before any outer cast — a cross-engine divergence DuckDB's exact
# DECIMAL products don't share; found by the round-9 advisor.) The
# per-bin reliability/resolution terms are single IEEE expressions
# of exact sums quantized to DECIMAL(18,6) BEFORE the <= K-bin fold
# (bounded-term discipline); uncertainty is one division pair.
_BRIER_BINS = 10


def q_ext_brier_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.queries_round7 import _scored

    sc = _scored(spark, sf_dir)
    # |score - pos| <= 1 (score in [0,1], pos in {0,1}), so decimal(8,6)
    # is a lossless narrowing with 100x headroom; see block comment.
    diff = (F.col("score") - F.col("pos")).cast("decimal(8,6)")
    binc = F.least(
        F.floor(F.col("score") * _BRIER_BINS).cast("int"),
        F.lit(_BRIER_BINS - 1),
    )
    per = sc.select("score", "pos", binc.alias("__b")).groupBy("__b").agg(
        F.count(F.lit(1)).cast("long").alias("__nk"),
        F.sum(F.col("score").cast("decimal(28,6)")).alias("__sp"),
        F.sum("pos").cast("long").alias("__sy"),
        F.sum(diff * diff).alias("__sq"),
    ).localCheckpoint(eager=False)  # <=10-row bin frame, read by tot AND the fold
    tot = per.agg(
        F.sum("__nk").cast("long").alias("n_docs"),
        F.sum("__sy").cast("long").alias("__y"),
        F.sum("__sq").alias("__sqtot"),
    )
    j = per.crossJoin(F.broadcast(tot))
    nk = F.col("__nk").cast("double")
    nd = F.col("n_docs").cast("double")
    rel_t = stable_round(
        (F.col("__sp").cast("double") - F.col("__sy").cast("double"))
        * (F.col("__sp").cast("double") - F.col("__sy").cast("double"))
        / nk,
        6,
    ).cast("decimal(18,6)")
    res_num = (
        F.col("__sy").cast("double") * nd - F.col("__y").cast("double") * nk
    )
    res_t = stable_round(res_num * res_num / (nk * nd * nd), 6).cast(
        "decimal(18,6)"
    )
    folded = j.groupBy().agg(
        F.max("n_docs").alias("n_docs"),
        F.max("__y").alias("__y"),
        F.max("__sqtot").alias("__sqtot"),
        F.sum(rel_t).alias("__rel"),
        F.sum(res_t).alias("__res"),
    )
    nd2 = F.col("n_docs").cast("double")
    yd = F.col("__y").cast("double")
    return folded.select(
        "n_docs",
        (F.col("__sqtot").cast("double") / nd2).alias("brier"),
        (F.col("__rel").cast("double") / nd2).alias("reliability"),
        (F.col("__res").cast("double") / nd2).alias("resolution"),
        ((yd / nd2) * (F.lit(1.0) - yd / nd2)).alias("uncertainty"),
    )


def _brier_oracle() -> str:
    from be_analytic_etl_spark.queries_round7 import _scored_sql

    rel_t = stable_round_sql(
        f"(({exact_dec_double_sql('__sp')} - CAST(__sy AS DOUBLE))"
        f" * ({exact_dec_double_sql('__sp')} - CAST(__sy AS DOUBLE))"
        f" / CAST(__nk AS DOUBLE))",
        6,
    )
    res_num = (
        "(CAST(__sy AS DOUBLE) * CAST(n_docs AS DOUBLE)"
        " - CAST(__y AS DOUBLE) * CAST(__nk AS DOUBLE))"
    )
    res_t = stable_round_sql(
        f"({res_num} * {res_num}"
        f" / (CAST(__nk AS DOUBLE) * CAST(n_docs AS DOUBLE)"
        f" * CAST(n_docs AS DOUBLE)))",
        6,
    )
    sqd = exact_dec_double_sql("__sqtot")
    return f"""
    {_scored_sql()}, per AS (
        SELECT LEAST(CAST(FLOOR(score * {_BRIER_BINS}) AS INTEGER),
                     {_BRIER_BINS - 1}) AS __b,
               CAST(COUNT(*) AS BIGINT) AS __nk,
               SUM(CAST(score AS DECIMAL(28,6))) AS __sp,
               CAST(SUM(pos) AS BIGINT) AS __sy,
               SUM(CAST(score - pos AS DECIMAL(8,6))
                   * CAST(score - pos AS DECIMAL(8,6))) AS __sq
        FROM sc GROUP BY 1
    ), t AS (
        SELECT CAST(SUM(__nk) AS BIGINT) AS n_docs,
               CAST(SUM(__sy) AS BIGINT) AS __y,
               SUM(__sq) AS __sqtot
        FROM per
    ), folded AS (
        SELECT MAX(n_docs) AS n_docs, MAX(__y) AS __y,
               MAX(__sqtot) AS __sqtot,
               SUM(CAST({rel_t} AS DECIMAL(18,6))) AS __rel,
               SUM(CAST({res_t} AS DECIMAL(18,6))) AS __res
        FROM per, t
    )
    SELECT n_docs,
           {sqd} / CAST(n_docs AS DOUBLE) AS brier,
           CAST(__rel AS DOUBLE) / CAST(n_docs AS DOUBLE) AS reliability,
           CAST(__res AS DOUBLE) / CAST(n_docs AS DOUBLE) AS resolution,
           (CAST(__y AS DOUBLE) / CAST(n_docs AS DOUBLE))
               * (1.0 - CAST(__y AS DOUBLE) / CAST(n_docs AS DOUBLE))
               AS uncertainty
    FROM folded
    """


register("ext_brier_decomp", q_ext_brier_decomp, _brier_oracle())


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test of the daily revenue series around its exact
# median: is revenue randomly scattered above/below, or does it move in
# sustained regimes? The median uses the two-middle-rank trick on the
# calendar-bounded daily frame (days at exactly the median drop, the
# standard treatment); the run count is one LAG over the day order; R,
# n_above, n_below are exact, and z uses the exact-moment normal
# approximation E[R] = 2*n1*n2/n + 1,
# Var = 2*n1*n2*(2*n1*n2 - n) / (n^2 * (n - 1)) — a fixed IEEE tail
# quantized at the source.


def runs_from_daily(daily: DataFrame) -> DataFrame:
    """The runs test over ANY (day, c) frame, like
    ``seasonal_from_daily`` above."""
    w = Window.orderBy("c")
    wall = Window.partitionBy()
    cum = daily.select(
        "c",
        F.row_number().over(w).cast("long").alias("__rn"),
        F.count(F.lit(1)).over(wall).cast("long").alias("__n"),
    )
    r_lo, r_hi = middle_ranks(F.col("__n"))
    med = cum.groupBy().agg(
        (
            F.min(F.when(F.col("__rn") == r_lo, F.col("c")))
            + F.min(F.when(F.col("__rn") == r_hi, F.col("c")))
        )
        .cast("long")
        .alias("__med2")
    )
    s = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.lit(2) * F.col("c") != F.col("__med2"))
        .select(
            "day", (F.lit(2) * F.col("c") > F.col("__med2")).cast("int").alias("__s")
        )
    )
    wd = Window.orderBy("day")
    runs = s.select(
        "__s",
        F.when(
            F.lag("__s").over(wd).isNotNull()
            & (F.lag("__s").over(wd) != F.col("__s")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__chg"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.sum("__s").cast("long").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("__s")).cast("long").alias("n_below"),
        (F.lit(1) + F.sum("__chg")).cast("long").alias("runs"),
    )
    n1d = F.col("n_above").cast("double")
    n2d = F.col("n_below").cast("double")
    nd = F.col("n_used").cast("double")
    e_r = F.lit(2.0) * n1d * n2d / nd + F.lit(1.0)
    var = (
        F.lit(2.0)
        * n1d
        * n2d
        * (F.lit(2.0) * n1d * n2d - nd)
        / (nd * nd * (nd - F.lit(1.0)))
    )
    ok = (F.col("n_above") > 0) & (F.col("n_below") > 0) & (F.col("n_used") > 1)
    return runs.select(
        "n_used",
        "n_above",
        "n_below",
        "runs",
        F.when(
            ok,
            F.when(
                var > 0,
                stable_round((F.col("runs").cast("double") - e_r) / F.sqrt(var), 6),
            ),
        ).alias("z_stat"),
    )


def q_ext_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    return runs_from_daily(_daily_cents(spark, sf_dir))


def _runs_oracle() -> str:
    n1d = "CAST(n_above AS DOUBLE)"
    n2d = "CAST(n_below AS DOUBLE)"
    nd = "CAST(n_used AS DOUBLE)"
    e_r = f"(2.0 * {n1d} * {n2d} / {nd} + 1.0)"
    var = (
        f"(2.0 * {n1d} * {n2d} * (2.0 * {n1d} * {n2d} - {nd})"
        f" / ({nd} * {nd} * ({nd} - 1.0)))"
    )
    z = f"((CAST(runs AS DOUBLE) - {e_r}) / sqrt({var}))"
    return f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    cum AS (
        SELECT c,
               CAST(ROW_NUMBER() OVER (ORDER BY c) AS BIGINT) AS __rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS __n
        FROM daily
    ), med AS (
        SELECT CAST(MIN(CASE WHEN __rn = (__n + 1) // 2 THEN c END)
                    + MIN(CASE WHEN __rn = __n // 2 + 1 THEN c END)
                    AS BIGINT) AS __med2
        FROM cum
    ), s AS (
        SELECT day, CASE WHEN 2 * c > __med2 THEN 1 ELSE 0 END AS __s
        FROM daily, med WHERE 2 * c <> __med2
    ), marked AS (
        SELECT __s,
               CASE WHEN LAG(__s) OVER (ORDER BY day) IS NOT NULL
                         AND LAG(__s) OVER (ORDER BY day) <> __s
                    THEN 1 ELSE 0 END AS __chg
        FROM s
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
               CAST(SUM(__s) AS BIGINT) AS n_above,
               CAST(COUNT(*) - SUM(__s) AS BIGINT) AS n_below,
               CAST(1 + SUM(__chg) AS BIGINT) AS runs
        FROM marked
    )
    SELECT n_used, n_above, n_below, runs,
           CASE WHEN n_above > 0 AND n_below > 0 AND n_used > 1
                THEN CASE WHEN {var} > 0
                          THEN {stable_round_sql(z, 6)} END
                END AS z_stat
    FROM agg
    """


register("ext_runs_test", q_ext_runs_test, _runs_oracle())


# ---------------------------------------------------------------------------
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
# Brown-Forsythe variance-homogeneity test of the quality score across
# sources: the ANOVA-F recipe applied to absolute deviations from each
# source's EXACT median (the robust Levene variant). The corpus
# collapses once to the (source, score) histogram; medians use the
# two-middle-rank trick per source (med2 = 2x median, exact decimal),
# deviations |2*q6 - med2| stay exact DECIMALs on the histogram cells,
# and the F assembly is the ext_anova_f discipline verbatim (per-source
# s1^2/n_s terms quantized before the cross-source fold, unbounded
# accumulators VARCHAR-routed in the oracle).


def q_ext_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = (
        docs.select("source", _q6())
        .groupBy("source", "__q6")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=False)
    )
    wsrc = Window.partitionBy("source").orderBy("__q6")
    wall = Window.partitionBy("source")
    cum = h.select(
        "source",
        "__q6",
        "__c",
        F.sum("__c").over(wsrc).cast("long").alias("__cum"),
        F.sum("__c").over(wall).cast("long").alias("__nsrc"),
    )
    r_lo, r_hi = middle_ranks(F.col("__nsrc"))
    med = cum.groupBy("source").agg(
        (
            F.min(F.when(F.col("__cum") >= r_lo, F.col("__q6")))
            + F.min(F.when(F.col("__cum") >= r_hi, F.col("__q6")))
        ).alias("__med2")
    )
    dev = h.join(F.broadcast(med), "source").select(
        "source",
        "__c",
        F.abs(F.lit(2) * F.col("__q6") - F.col("__med2")).alias("__d"),
    )
    per = dev.groupBy("source").agg(
        F.sum("__c").cast("long").alias("n_s"),
        F.sum(F.col("__d").cast("decimal(28,6)") * F.col("__c")).alias("__s1"),
        # __d = |2*__q6 - __med2| <= 2 (scores in [0,1]), so decimal(8,6)
        # narrows losslessly; the square is then decimal(17,12) exact and
        # the count product decimal(38,12) exact (17+20+1 = 38 — fits).
        # Squaring at __d's natural width would overflow precision 38 and
        # Spark would silently narrow the product scale (advisor r9).
        F.sum(
            F.col("__d").cast("decimal(8,6)")
            * F.col("__d").cast("decimal(8,6)")
            * F.col("__c")
        ).alias("__s2"),
    )
    term = stable_round(
        (F.col("__s1").cast("double") * F.col("__s1").cast("double"))
        / F.col("n_s").cast("double"),
        6,
    ).cast("decimal(18,6)")
    agg = per.agg(
        F.sum("n_s").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__s1").alias("__g1"),
        F.sum("__s2").alias("__g2"),
        F.sum(term).alias("__gterm"),
    )
    nd = F.col("n").cast("double")
    grand = (
        F.col("__g1").cast("double") * F.col("__g1").cast("double")
    ) / nd
    ssb = F.col("__gterm").cast("double") - grand
    ssw = F.col("__g2").cast("double") - F.col("__gterm").cast("double")
    dof1 = (F.col("k") - 1).cast("long")
    dof2 = (F.col("n") - F.col("k")).cast("long")
    fstat = (ssb / dof1.cast("double")) / (ssw / dof2.cast("double"))
    ok = (dof1 > 0) & (dof2 > 0) & (ssw > 0)
    return agg.select(
        "n",
        "k",
        dof1.alias("dof1"),
        dof2.alias("dof2"),
        F.when(ok, stable_round(fstat, 6)).alias("bf_stat"),
    )


def _levene_oracle() -> str:
    s1d = exact_dec_double_sql("__s1")
    g1d = exact_dec_double_sql("__g1")
    g2d = exact_dec_double_sql("__g2")
    term = stable_round_sql(f"({s1d} * {s1d} / CAST(n_s AS DOUBLE))", 6)
    grand = f"({g1d} * {g1d} / CAST(n AS DOUBLE))"
    ssb = f"(CAST(__gterm AS DOUBLE) - {grand})"
    ssw = f"({g2d} - CAST(__gterm AS DOUBLE))"
    fstat = (
        f"(({ssb} / CAST(k - 1 AS DOUBLE))"
        f" / ({ssw} / CAST(n - k AS DOUBLE)))"
    )
    return f"""
    WITH {_q6_cte()}, h AS (
        SELECT source, __q6, CAST(COUNT(*) AS BIGINT) AS __c
        FROM sq GROUP BY 1, 2
    ), cum AS (
        SELECT source, __q6, __c,
               CAST(SUM(__c) OVER (PARTITION BY source ORDER BY __q6)
                   AS BIGINT) AS __cum,
               CAST(SUM(__c) OVER (PARTITION BY source) AS BIGINT) AS __nsrc
        FROM h
    ), med AS (
        SELECT source,
               MIN(CASE WHEN __cum >= (__nsrc + 1) // 2 THEN __q6 END)
                   + MIN(CASE WHEN __cum >= __nsrc // 2 + 1 THEN __q6 END)
                   AS __med2
        FROM cum GROUP BY source
    ), dev AS (
        SELECT h.source, h.__c, ABS(2 * h.__q6 - med.__med2) AS __d
        FROM h JOIN med USING (source)
    ), per AS (
        SELECT source, CAST(SUM(__c) AS BIGINT) AS n_s,
               SUM(CAST(__d AS DECIMAL(28,6)) * __c) AS __s1,
               SUM(CAST(__d AS DECIMAL(8,6)) * CAST(__d AS DECIMAL(8,6))
                   * __c) AS __s2
        FROM dev GROUP BY source
    ), a AS (
        SELECT CAST(SUM(n_s) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM(__s1) AS __g1, SUM(__s2) AS __g2,
               SUM(CAST({term} AS DECIMAL(18,6))) AS __gterm
        FROM per
    )
    SELECT n, k,
           CAST(k - 1 AS BIGINT) AS dof1,
           CAST(n - k AS BIGINT) AS dof2,
           CASE WHEN k > 1 AND n > k AND {ssw} > 0
                THEN {stable_round_sql(fstat, 6)} END AS bf_stat
    FROM a
    """


register("ext_levene", q_ext_levene, _levene_oracle())


# ---------------------------------------------------------------------------
# McNemar's test on the two resident quality classifiers (heuristic
# score gate >= 0.5 vs the hashed-linear gate): do they disagree
# symmetrically, or is one systematically stricter? Only the
# disagreement cells matter: chi2 = (n01 - n10)^2 / (n01 + n10) — exact
# BIGINT counts from one map-only corpus pass, one IEEE division. The
# agreement-rate read of this same pair lives in kappa-space via the
# lang-id ext_cohens_kappa; this is the paired-marginals test. The
# hashed gate's >= 0.5 decision is engine-identical (monotone sigmoid
# over a fixed-order fold — see ext_quality_classifier).


def q_ext_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    a = (F.col("__q6") >= F.lit("0.5").cast("decimal(18,6)")).cast("int")
    b = (T.hashed_linear_score("text") >= 0.5).cast("int")
    m = docs.select(_q6(), "text").select(a.alias("__a"), b.alias("__b"))
    agg = m.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when((F.col("__a") == 0) & (F.col("__b") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_01"),
        F.sum(
            F.when((F.col("__a") == 1) & (F.col("__b") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_10"),
    )
    diff = (F.col("n_01") - F.col("n_10")).cast("double")
    tot = (F.col("n_01") + F.col("n_10")).cast("double")
    return agg.select(
        "n_docs",
        "n_01",
        "n_10",
        F.when(F.col("n_01") + F.col("n_10") > 0, diff * diff / tot).alias(
            "mcnemar_chi2"
        ),
    )


def _mcnemar_oracle() -> str:
    from be_analytic_etl_spark.operators.textstats import (
        PORTABLE_P,
        QC_BIAS,
        QC_BUCKETS,
        qc_weights,
    )
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

    w_sql = "[" + ",".join(repr(x) for x in qc_weights()) + "]"
    per_tok = (
        f"list_transform(toks, t -> {w_sql}["
        f"CAST((CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % {PORTABLE_P})"
        f" % {QC_BUCKETS} AS INTEGER) + 1])"
    )
    raw = (
        f"list_reduce([CAST({QC_BIAS!r} AS DOUBLE)] || {per_tok},"
        f" (x, y) -> x + y)"
    )
    return f"""
    WITH {qscore_feature_ctes('doc_id', ', toks')}, r AS (
        SELECT CASE WHEN CAST({stable_round_sql(_QSCORE_SQL, 6)}
                         AS DECIMAL(18,6)) >= 0.5 THEN 1 ELSE 0 END AS __a,
               CASE WHEN 1.0 / (1.0 + exp(-({raw}))) >= 0.5 THEN 1 ELSE 0 END
                   AS __b
        FROM m
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN __a = 0 AND __b = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_01,
               CAST(SUM(CASE WHEN __a = 1 AND __b = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_10
        FROM r
    )
    SELECT n_docs, n_01, n_10,
           CASE WHEN n_01 + n_10 > 0
                THEN CAST(n_01 - n_10 AS DOUBLE) * CAST(n_01 - n_10 AS DOUBLE)
                     / CAST(n_01 + n_10 AS DOUBLE) END AS mcnemar_chi2
    FROM agg
    """


register("ext_mcnemar", q_ext_mcnemar, _mcnemar_oracle())
