"""Round-10 extension queries.

The k-sample / distribution-distance panel that completes the
nonparametric monitoring family rounds 7-9 built (two-sample rank
tests, drift divergences, robust trend):

- ``ext_kruskal_wallis``: tie-corrected Kruskal-Wallis H (Kruskal &
  Wallis, JASA 1952) of the quality score across sources — the
  k-sample omnibus extension of ``ext_mann_whitney``.
- ``ext_mood_median``: Mood's median test (Mood 1950) of document
  length across sources — the 2 x k above/below-grand-median
  chi-square, the location companion that is robust where rank sums
  are not.
- ``ext_cramers_v``: Cramér's V (Cramér 1946) with the Bergsma (2013)
  bias correction on the source x score-decile contingency — the
  effect-size companion to ``ext_chi2_independence``.
- ``ext_hellinger``: per-language Bhattacharyya coefficient
  (Bhattacharyya 1943) and Hellinger distance (Hellinger 1909) vs the
  rest of the corpus over the bounded score-decile grid — the
  bounded-metric companion to ``ext_jensen_shannon`` (no logs: sqrt
  only).
- ``ext_cvm``: Cramér-von Mises two-sample statistic (Cramér 1928;
  Anderson 1962 two-sample form) of English vs the rest — the
  integrated-CDF companion to the supremum-based ``ext_ks_test``.
- ``ext_jonckheere``: Jonckheere-Terpstra ordered-alternative trend
  test (Jonckheere, Biometrika 1954; Terpstra 1952) of the quality
  score across ordered length buckets — "does quality rise with
  document length", which the unordered ANOVA/KW omnibus cannot ask.
- ``ext_wasserstein``: per-language 1-D Wasserstein-1 / earth-mover
  distance (Kantorovich 1942) vs the rest — exact CDF-gap integral
  over the score value domain, the transport-metric leg beside
  PSI/JS/KL.
- ``ext_hodges_lehmann``: Hodges-Lehmann shift estimator (Hodges &
  Lehmann, Ann. Math. Stat. 1963) of weekend vs weekday daily
  revenue — the median of all pairwise differences, the ESTIMATOR
  companion to the Mann-Whitney TEST.
- ``ext_siegel_slopes``: Siegel repeated-medians trend slope (Siegel,
  Biometrika 1982) of the daily revenue series — 50% breakdown point
  vs Theil-Sen's 29%.
- ``ext_friedman``: Friedman test (Friedman, JASA 1937) with tie
  correction of daily revenue across event types over complete
  day-blocks — the blocked k-sample design (KW assumes independent
  groups; days are blocks here).

Scale shapes: every query collapses the corpus in ONE
partial-aggregated groupBy (documents -> (group, score) histograms or
bounded contingencies; events -> the calendar x |event_types| cell
frame or the shared lazily-checkpointed daily frame). All rank / CDF /
pair work then runs on value-domain- or calendar-bounded control-plane
frames; the pair joins (Hodges-Lehmann day pairs, Siegel day pairs,
the dense lang x values / bucket x values grids) are deliberate
bounded-broadcast shapes adjudicated in plans/lint.py BNL_ALLOWLIST.

Float discipline (SCALE.md, all seven divergence classes): counts and
rank sums accumulate as BIGINT/DECIMAL exact; any per-group or per-bin
double term that feeds a cross-group fold is first NORMALIZED into
[0, 1] (so the stable_round(.., 12) guard threshold 2^53/10^12 can
never pass it through un-quantized at any corpus size — the round-10
lesson; a raw magnitude like (O-E)^2/E <= n stays below the 6dp
threshold 2^53/10^6 ~ 9e9 only up to ~9e9 rows, so terms that grow
with n are quantized at 6dp AND documented, while normalized terms use
12dp for accuracy); sqrt/division tails are single fixed-order IEEE
expressions mirrored verbatim in the oracles; decimal products narrow
their operands first (class 7 lint).
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
from be_analytic_etl_spark.queries_extensions import _t
from be_analytic_etl_spark.queries_round8 import _DAILY_CENTS_SQL, _daily_cents
from be_analytic_etl_spark.queries_round9 import _q6, _q6_cte
from be_analytic_etl_spark.registry import register

# ---------------------------------------------------------------------------
# Kruskal-Wallis H across sources: the k-sample omnibus rank test.
# With the (source, score) histogram, the doubled rank sum of group s
# is 2R_s = sum_cells c * (2*gb + g + 1) — exact DECIMAL (gb = global
# count strictly below the value, g = global count at it). The
# per-group fold term is NORMALIZED: w*e*e with w = n_s/n and
# e = (meanrank_s - (n+1)/2)/n, both in [-1, 1], so
# H = 12*n^2/(n+1) * sum(w*e*e), and the 12dp
# quantization error is bounded by k * 5e-13 * 12n^2/(n+1) ~ 4e-6 at
# sf0.1. (Folding raw R_s^2/n_s terms would exceed stable_round's
# 2^53/10^s pass-through threshold and re-open divergence class 6.)
# Tie correction C = 1 - T3/(n^3 - n) with T3 = sum(g^3 - g) exact.


def q_ext_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = (
        docs.select("source", _q6())
        .groupBy("source", "__q6")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
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
    per = h.join(g, "__q6").groupBy("source").agg(
        F.sum("__c").cast("long").alias("n_s"),
        F.sum(
            F.col("__c").cast("decimal(38,0)")
            * (F.lit(2) * F.col("__gb") + F.col("__g") + 1)
        ).alias("__r2"),
    )
    tot = per.agg(F.sum("n_s").cast("long").alias("__n"))
    j = per.crossJoin(F.broadcast(tot))
    nd = F.col("__n").cast("double")
    mean_rank = F.col("__r2").cast("double") / (
        F.lit(2.0) * F.col("n_s").cast("double")
    )
    w = F.col("n_s").cast("double") / nd
    e = (mean_rank - (nd + F.lit(1.0)) / F.lit(2.0)) / nd
    term = stable_round(w * e * e, 12).cast("decimal(18,12)")
    folded = j.groupBy().agg(
        F.max("__n").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(term).alias("__fold"),
    ).crossJoin(F.broadcast(t3))
    nd2 = F.col("n").cast("double")
    hstat = (
        F.lit(12.0) * nd2 * nd2 / (nd2 + F.lit(1.0))
    ) * F.col("__fold").cast("double")
    corr = F.lit(1.0) - F.col("__t3").cast("double") / (
        nd2 * nd2 * nd2 - nd2
    )
    ok = (F.col("k") >= 2) & (F.col("n") > 1)
    return folded.select(
        "n",
        "k",
        F.when(ok, stable_round(hstat, 6)).alias("h_stat"),
        F.when(ok & (corr > 0), stable_round(hstat / corr, 6)).alias(
            "h_tie_corrected"
        ),
    )


def _kw_oracle() -> str:
    nd = "CAST(n AS DOUBLE)"
    mean_rank = f"({exact_dec_double_sql('__r2')} / (2.0 * CAST(n_s AS DOUBLE)))"
    w = f"(CAST(n_s AS DOUBLE) / {nd})"
    e = f"(({mean_rank} - ({nd} + 1.0) / 2.0) / {nd})"
    term = stable_round_sql(f"({w} * {e} * {e})", 12)
    hstat = f"((12.0 * {nd} * {nd} / ({nd} + 1.0)) * CAST(__fold AS DOUBLE))"
    corr = (
        f"(1.0 - {exact_dec_double_sql('__t3')}"
        f" / ({nd} * {nd} * {nd} - {nd}))"
    )
    return f"""
    WITH {_q6_cte()}, h AS (
        SELECT source, __q6, CAST(COUNT(*) AS BIGINT) AS __c
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
    ), per AS (
        SELECT source, CAST(SUM(__c) AS BIGINT) AS n_s,
               SUM(CAST(__c AS DECIMAL(38,0)) * (2 * g.__gb + g.__g + 1))
                   AS __r2
        FROM h JOIN g USING (__q6) GROUP BY 1
    ), t AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM per),
    folded AS (
        SELECT MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST({term} AS DECIMAL(18,12))) AS __fold
        FROM per, t
    )
    SELECT n, k,
           CASE WHEN k >= 2 AND n > 1
                THEN {stable_round_sql(hstat, 6)} END AS h_stat,
           CASE WHEN k >= 2 AND n > 1 AND {corr} > 0
                THEN {stable_round_sql(f"({hstat} / {corr})", 6)} END
               AS h_tie_corrected
    FROM folded, t3
    """


register("ext_kruskal_wallis", q_ext_kruskal_wallis, _kw_oracle())


# ---------------------------------------------------------------------------
# Mood's median test across sources: exact grand median of document
# LENGTH (n_chars — the quality score is degenerate here: >80% of the
# corpus sits at the max score, so its median splits nothing) via the
# two-middle-rank trick on the global length histogram, then the 2 x k
# above/not-above chi-square. All counts exact BIGINT; each source's
# (O-E)^2/E pair is one fixed IEEE expression of exact counts, <= n in
# magnitude (below the 6dp stable_round threshold 2^53/10^6 up to
# ~9e9 rows — documented bound), quantized at 6dp before the <= k-row
# fold.


def q_ext_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = (
        docs.filter(F.col("n_chars").isNotNull())
        .groupBy("source", F.col("n_chars").alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=False)
    )
    g = h.groupBy("__v").agg(F.sum("__c").cast("long").alias("__g"))
    wv = Window.orderBy("__v")
    wall = Window.partitionBy()
    cum = g.select(
        "__v",
        F.sum("__g").over(wv).cast("long").alias("__cum"),
        F.sum("__g").over(wall).cast("long").alias("__n"),
    )
    r_lo, r_hi = middle_ranks(F.col("__n"))
    med = cum.groupBy().agg(
        (
            F.min(F.when(F.col("__cum") >= r_lo, F.col("__v")))
            + F.min(F.when(F.col("__cum") >= r_hi, F.col("__v")))
        )
        .cast("long")
        .alias("__med2")
    )
    per = (
        h.crossJoin(F.broadcast(med))
        .groupBy("source")
        .agg(
            F.sum("__c").cast("long").alias("__ns"),
            F.sum(
                F.when(F.lit(2) * F.col("__v") > F.col("__med2"), F.col("__c"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("__as"),
        )
    )
    tot = per.agg(
        F.sum("__ns").cast("long").alias("__n"),
        F.sum("__as").cast("long").alias("__a"),
    )
    j = per.crossJoin(F.broadcast(tot))
    nd = F.col("__n").cast("double")
    ad = F.col("__a").cast("double")
    nsd = F.col("__ns").cast("double")
    asd = F.col("__as").cast("double")
    e1 = nsd * ad / nd
    e2 = nsd * (nd - ad) / nd
    # e1/e2 are zero exactly when __a = 0 or __a = n (a degenerate
    # median split — e.g. >= half the corpus at the max score); guard
    # the division itself, not just the emit: ANSI mode raises
    # DIVIDE_BY_ZERO inside the fold before the outer CASE could null.
    term = F.when(
        (F.col("__a") > 0) & (F.col("__a") < F.col("__n")),
        stable_round(
            (asd - e1) * (asd - e1) / e1
            + (nsd - asd - e2) * (nsd - asd - e2) / e2,
            6,
        ),
    ).cast("decimal(18,6)")
    folded = j.groupBy().agg(
        F.max("__n").alias("n"),
        F.max("__a").alias("n_above"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(term).alias("__chi2"),
    )
    ok = (F.col("n_above") > 0) & (F.col("n_above") < F.col("n")) & (
        F.col("k") >= 2
    )
    return folded.select(
        "n",
        "k",
        "n_above",
        F.when(ok, F.col("__chi2").cast("double")).alias("mood_chi2"),
    )


def _mood_oracle() -> str:
    e1 = "(CAST(__ns AS DOUBLE) * CAST(__a AS DOUBLE) / CAST(__n AS DOUBLE))"
    e2 = (
        "(CAST(__ns AS DOUBLE) * (CAST(__n AS DOUBLE) - CAST(__a AS DOUBLE))"
        " / CAST(__n AS DOUBLE))"
    )
    o1 = "CAST(__as AS DOUBLE)"
    o2 = "(CAST(__ns AS DOUBLE) - CAST(__as AS DOUBLE))"
    term = (
        "CASE WHEN __a > 0 AND __a < __n THEN "
        + stable_round_sql(
            f"(({o1} - {e1}) * ({o1} - {e1}) / {e1}"
            f" + ({o2} - {e2}) * ({o2} - {e2}) / {e2})",
            6,
        )
        + " END"
    )
    return f"""
    WITH h AS (
        SELECT source, n_chars AS __v, CAST(COUNT(*) AS BIGINT) AS __c
        FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ), g AS (
        SELECT __v, CAST(SUM(__c) AS BIGINT) AS __g FROM h GROUP BY 1
    ), cum AS (
        SELECT __v,
               CAST(SUM(__g) OVER (ORDER BY __v) AS BIGINT) AS __cum,
               CAST(SUM(__g) OVER () AS BIGINT) AS __n
        FROM g
    ), med AS (
        SELECT CAST(MIN(CASE WHEN __cum >= (__n + 1) // 2 THEN __v END)
               + MIN(CASE WHEN __cum >= __n // 2 + 1 THEN __v END)
               AS BIGINT) AS __med2
        FROM cum
    ), per AS (
        SELECT source, CAST(SUM(__c) AS BIGINT) AS __ns,
               CAST(SUM(CASE WHEN 2 * __v > __med2 THEN __c ELSE 0 END)
                   AS BIGINT) AS __as
        FROM h, med GROUP BY 1
    ), t AS (
        SELECT CAST(SUM(__ns) AS BIGINT) AS __n,
               CAST(SUM(__as) AS BIGINT) AS __a
        FROM per
    ), folded AS (
        SELECT MAX(__n) AS n, MAX(__a) AS n_above,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST({term} AS DECIMAL(18,6))) AS __chi2
        FROM per, t
    )
    SELECT n, k, n_above,
           CASE WHEN n_above > 0 AND n_above < n AND k >= 2
                THEN CAST(__chi2 AS DOUBLE) END AS mood_chi2
    FROM folded
    """


register("ext_mood_median", q_ext_mood_median, _mood_oracle())


# ---------------------------------------------------------------------------
# Cramér's V with the Bergsma (2013) bias correction on the source x
# score-decile contingency (<= 20 x 10 cells). Per-cell (O-E)^2/E
# terms (<= n — see the Mood's-test bound note) are quantized at 6dp
# before the bounded fold; chi2 is then an exact DECIMAL sum, and V /
# V_corrected are fixed IEEE tails quantized at the source.
_CV_BINS = 10


def q_ext_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    binc = F.least(
        F.floor(F.col("__q6") * _CV_BINS).cast("int"), F.lit(_CV_BINS - 1)
    )
    cells = (
        docs.select("source", _q6())
        .select("source", binc.alias("__b"))
        .groupBy("source", "__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=False)
    )
    rm = cells.groupBy("source").agg(F.sum("__c").cast("long").alias("__r"))
    cm = cells.groupBy("__b").agg(F.sum("__c").cast("long").alias("__col"))
    tot = cells.agg(
        F.sum("__c").cast("long").alias("__n"),
        F.countDistinct("source").cast("long").alias("__nr"),
        F.countDistinct("__b").cast("long").alias("__nc"),
    )
    j = (
        cells.join(F.broadcast(rm), "source")
        .join(F.broadcast(cm), "__b")
        .crossJoin(F.broadcast(tot))
    )
    od = F.col("__c").cast("double")
    ed = F.col("__r").cast("double") * F.col("__col").cast("double") / F.col(
        "__n"
    ).cast("double")
    term = stable_round((od - ed) * (od - ed) / ed, 6).cast("decimal(18,6)")
    folded = j.groupBy().agg(
        F.max("__n").alias("n"),
        F.max("__nr").alias("n_rows"),
        F.max("__nc").alias("n_cols"),
        F.sum(term).alias("__chi2"),
        # zero-observed cells contribute (0-E)^2/E = E to chi2; the
        # cells frame only carries OBSERVED cells, so that mass was
        # silently missing (caught by the round-11 brute-force property
        # test on a sparse random contingency). Since sum over ALL r x c
        # cells of E is exactly n, the missing mass is
        # (n^2 - sum_observed(r*c)) / n — exact decimal algebra, zero
        # exactly on a dense table.
        F.sum(
            F.col("__r").cast("decimal(38,0)") * F.col("__col")
        ).alias("__rc"),
    )
    nd = F.col("n").cast("double")
    rd = F.col("n_rows").cast("double")
    cd = F.col("n_cols").cast("double")
    # n^2 - sum(r*c) stays EXACT decimal before the one double division,
    # so no 1e24-vs-1e24 cancellation at any corpus size.
    chi2d = (
        F.col("__chi2").cast("double")
        + (
            F.col("n").cast("decimal(38,0)") * F.col("n") - F.col("__rc")
        ).cast("double")
        / nd
    )
    phi2 = chi2d / nd
    v = F.sqrt(phi2 / F.least(rd - 1, cd - 1))
    phi2c = F.greatest(
        F.lit(0.0), phi2 - (rd - 1) * (cd - 1) / (nd - 1)
    )
    rc = rd - (rd - 1) * (rd - 1) / (nd - 1)
    cc = cd - (cd - 1) * (cd - 1) / (nd - 1)
    vc = F.sqrt(phi2c / (F.least(rc, cc) - 1))
    ok = (F.col("n_rows") >= 2) & (F.col("n_cols") >= 2) & (F.col("n") > 2)
    return folded.select(
        "n",
        "n_rows",
        "n_cols",
        chi2d.alias("chi2"),
        F.when(ok, stable_round(v, 6)).alias("cramers_v"),
        F.when(ok & (F.least(rc, cc) > 1), stable_round(vc, 6)).alias(
            "cramers_v_corrected"
        ),
    )


def _cramers_oracle() -> str:
    ed = (
        "(CAST(__r AS DOUBLE) * CAST(__col AS DOUBLE)"
        " / CAST(__n AS DOUBLE))"
    )
    term = stable_round_sql(
        f"((CAST(__c AS DOUBLE) - {ed}) * (CAST(__c AS DOUBLE) - {ed})"
        f" / {ed})",
        6,
    )
    nd = "CAST(n AS DOUBLE)"
    rd = "CAST(n_rows AS DOUBLE)"
    cd = "CAST(n_cols AS DOUBLE)"
    missing = (
        exact_dec_double_sql("(CAST(n AS DECIMAL(38,0)) * n - __rc)")
        + f" / {nd}"
    )
    chi2_full = f"(CAST(__chi2 AS DOUBLE) + {missing})"
    phi2 = f"({chi2_full} / {nd})"
    v = f"sqrt({phi2} / LEAST({rd} - 1, {cd} - 1))"
    phi2c = (
        f"GREATEST(0.0, {phi2} - ({rd} - 1) * ({cd} - 1) / ({nd} - 1))"
    )
    rc = f"({rd} - ({rd} - 1) * ({rd} - 1) / ({nd} - 1))"
    cc = f"({cd} - ({cd} - 1) * ({cd} - 1) / ({nd} - 1))"
    vc = f"sqrt({phi2c} / (LEAST({rc}, {cc}) - 1))"
    return f"""
    WITH {_q6_cte()}, cells AS (
        SELECT source,
               LEAST(CAST(FLOOR(__q6 * {_CV_BINS}) AS INTEGER),
                     {_CV_BINS - 1}) AS __b,
               CAST(COUNT(*) AS BIGINT) AS __c
        FROM sq GROUP BY 1, 2
    ), rm AS (
        SELECT source, CAST(SUM(__c) AS BIGINT) AS __r FROM cells GROUP BY 1
    ), cm AS (
        SELECT __b, CAST(SUM(__c) AS BIGINT) AS __col FROM cells GROUP BY 1
    ), t AS (
        SELECT CAST(SUM(__c) AS BIGINT) AS __n,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS __nr,
               CAST(COUNT(DISTINCT __b) AS BIGINT) AS __nc
        FROM cells
    ), folded AS (
        SELECT MAX(__n) AS n, MAX(__nr) AS n_rows, MAX(__nc) AS n_cols,
               SUM(CAST({term} AS DECIMAL(18,6))) AS __chi2,
               SUM(CAST(__r AS DECIMAL(38,0)) * __col) AS __rc
        FROM cells
        JOIN rm USING (source) JOIN cm USING (__b), t
    )
    SELECT n, n_rows, n_cols,
           {chi2_full} AS chi2,
           CASE WHEN n_rows >= 2 AND n_cols >= 2 AND n > 2
                THEN {stable_round_sql(v, 6)} END AS cramers_v,
           CASE WHEN n_rows >= 2 AND n_cols >= 2 AND n > 2
                     AND LEAST({rc}, {cc}) > 1
                THEN {stable_round_sql(vc, 6)} END AS cramers_v_corrected
    FROM folded
    """


register("ext_cramers_v", q_ext_cramers_v, _cramers_oracle())


# ---------------------------------------------------------------------------
# Per-language Bhattacharyya coefficient and Hellinger distance vs the
# rest of the corpus over the <= 10-bin score-decile grid. BC_l =
# sum_bins sqrt(p_b * q_b); each per-bin term sqrt(c*r)/sqrt(n_l*n_r)
# is in [0, 1], quantized at 12dp before the <= 10-term fold (bins the
# language never hits contribute exactly 0 and need no dense grid).
# H = sqrt(1 - BC) — sqrt is IEEE-correctly-rounded in both engines;
# both emits are quantized at the source. No logarithms anywhere
# (the JS/KL legs carry those).
_HB_BINS = 10


def hellinger_from_cells(cells: DataFrame) -> DataFrame:
    """Per-language Bhattacharyya/Hellinger from a ``(lang, __b, __c)``
    cell frame: the registered query builds the lang x decile cells,
    then calls this readout."""
    gb = cells.groupBy("__b").agg(F.sum("__c").cast("long").alias("__g"))
    nl = cells.groupBy("lang").agg(F.sum("__c").cast("long").alias("__nl"))
    tot = cells.agg(F.sum("__c").cast("long").alias("__n"))
    j = (
        cells.join(F.broadcast(gb), "__b")
        .join(F.broadcast(nl), "lang")
        .crossJoin(F.broadcast(tot))
    )
    cd = F.col("__c").cast("double")
    restd = (F.col("__g") - F.col("__c")).cast("double")
    nld = F.col("__nl").cast("double")
    nrd = (F.col("__n") - F.col("__nl")).cast("double")
    # Degenerate guard (ANSI double DIVIDE_BY_ZERO on a single-language
    # corpus: nrd = 0 makes the per-row denominator sqrt(0) before the
    # NULL-gated output): NULL the term for a lang covering the whole
    # corpus — SUM skips it identically in both engines and the `ok`
    # gate already emits NULL for that lang.
    term = F.when(
        (F.col("__nl") > 0) & (F.col("__nl") < F.col("__n")),
        stable_round(F.sqrt(cd * restd) / F.sqrt(nld * nrd), 12),
    ).cast("decimal(18,12)")
    per = j.groupBy("lang", "__nl", "__n").agg(F.sum(term).alias("__bc"))
    bcd = F.col("__bc").cast("double")
    ok = (F.col("__nl") > 0) & (F.col("__nl") < F.col("__n"))
    return per.select(
        "lang",
        F.col("__nl").alias("n_lang"),
        F.when(ok, stable_round(bcd, 6)).alias("bhattacharyya"),
        F.when(
            ok, stable_round(F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - bcd)), 6)
        ).alias("hellinger"),
    )


def q_ext_hellinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    binc = F.least(
        F.floor(F.col("__q6") * _HB_BINS).cast("int"), F.lit(_HB_BINS - 1)
    )
    cells = (
        docs.select("lang", _q6())
        .select("lang", binc.alias("__b"))
        .groupBy("lang", "__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=False)
    )
    return hellinger_from_cells(cells)


def _hellinger_oracle() -> str:
    # degenerate guard mirrored from the Spark side (single-lang corpus)
    term = (
        "(CASE WHEN __nl > 0 AND __nl < __n THEN "
        + stable_round_sql(
            "(sqrt(CAST(__c AS DOUBLE) * CAST(__g - __c AS DOUBLE))"
            " / sqrt(CAST(__nl AS DOUBLE) * CAST(__n - __nl AS DOUBLE)))",
            12,
        )
        + " END)"
    )
    bcd = exact_dec_double_sql("__bc")
    hel = f"sqrt(GREATEST(0.0, 1.0 - {bcd}))"
    return f"""
    WITH {_q6_cte()}, cells AS (
        SELECT lang,
               LEAST(CAST(FLOOR(__q6 * {_HB_BINS}) AS INTEGER),
                     {_HB_BINS - 1}) AS __b,
               CAST(COUNT(*) AS BIGINT) AS __c
        FROM sq GROUP BY 1, 2
    ), gb AS (
        SELECT __b, CAST(SUM(__c) AS BIGINT) AS __g FROM cells GROUP BY 1
    ), nl AS (
        SELECT lang, CAST(SUM(__c) AS BIGINT) AS __nl FROM cells GROUP BY 1
    ), t AS (SELECT CAST(SUM(__c) AS BIGINT) AS __n FROM cells)
    SELECT lang, __nl AS n_lang,
           CASE WHEN __nl > 0 AND __nl < __n
                THEN {stable_round_sql(bcd, 6)} END AS bhattacharyya,
           CASE WHEN __nl > 0 AND __nl < __n
                THEN {stable_round_sql(hel, 6)} END AS hellinger
    FROM (
        SELECT lang, __nl, __n,
               SUM(CAST({term} AS DECIMAL(18,12))) AS __bc
        FROM cells JOIN gb USING (__b) JOIN nl USING (lang), t
        GROUP BY 1, 2, 3
    )
    """


register("ext_hellinger", q_ext_hellinger, _hellinger_oracle())


# ---------------------------------------------------------------------------
# Cramér-von Mises two-sample statistic of English vs the rest over the
# quality score: T = (n1*n2 / N^2) * sum_z (F1(z) - F2(z))^2 summed at
# every observation z — equivalently sum over distinct values v of
# g(v) * dF(v)^2 with g the combined count at v. Each per-value term is
# normalized to (g/N) * dF^2 in [0, 1] and quantized at 12dp before the
# value-domain-bounded fold, so T = n1*n2/N * fold with quantization
# error <= |values| * 5e-13. One corpus groupBy; cumulative CDFs are
# windows on the bounded score histogram.


def q_ext_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    g = (
        docs.select((F.col("lang") == "en").cast("int").alias("__e"), _q6())
        .groupBy("__q6")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__g"),
            F.sum("__e").cast("long").alias("__c1"),
        )
    )
    wv = Window.orderBy("__q6")
    wall = Window.partitionBy()
    cum = g.select(
        "__g",
        F.sum("__c1").over(wv).cast("long").alias("__f1"),
        (F.sum("__g").over(wv) - F.sum("__c1").over(wv))
        .cast("long")
        .alias("__f2"),
        F.sum("__c1").over(wall).cast("long").alias("__n1"),
        (F.sum("__g").over(wall) - F.sum("__c1").over(wall))
        .cast("long")
        .alias("__n2"),
    )
    df_ = F.col("__f1").cast("double") / F.col("__n1").cast("double") - F.col(
        "__f2"
    ).cast("double") / F.col("__n2").cast("double")
    nd = (F.col("__n1") + F.col("__n2")).cast("double")
    # Degenerate guard (robustness class: ANSI double DIVIDE_BY_ZERO,
    # caught by tests/test_degenerate_corpora.py): a single-language
    # corpus has __n2 = 0, and the per-row df_ division throws BEFORE
    # the NULL-gated output is reached. NULL the term instead — SUM
    # skips it identically in both engines, and the final `ok` gate
    # already emits NULL for this shape.
    term = F.when(
        (F.col("__n1") > 0) & (F.col("__n2") > 0),
        stable_round((F.col("__g").cast("double") / nd) * df_ * df_, 12),
    ).cast("decimal(18,12)")
    folded = cum.groupBy().agg(
        F.max("__n1").alias("n_en"),
        F.max("__n2").alias("n_rest"),
        F.sum(term).alias("__fold"),
    )
    n1d = F.col("n_en").cast("double")
    n2d = F.col("n_rest").cast("double")
    t = n1d * n2d * F.col("__fold").cast("double") / (n1d + n2d)
    ok = (F.col("n_en") > 0) & (F.col("n_rest") > 0)
    return folded.select(
        "n_en", "n_rest", F.when(ok, stable_round(t, 6)).alias("cvm_t")
    )


def _cvm_oracle() -> str:
    df_ = (
        "(CAST(__f1 AS DOUBLE) / CAST(__n1 AS DOUBLE)"
        " - CAST(__f2 AS DOUBLE) / CAST(__n2 AS DOUBLE))"
    )
    nd = "CAST(__n1 + __n2 AS DOUBLE)"
    # degenerate guard mirrored from the Spark side (single-group corpus)
    term = (
        "(CASE WHEN __n1 > 0 AND __n2 > 0 THEN "
        + stable_round_sql(f"((CAST(__g AS DOUBLE) / {nd}) * {df_} * {df_})", 12)
        + " END)"
    )
    n1d = "CAST(n_en AS DOUBLE)"
    n2d = "CAST(n_rest AS DOUBLE)"
    t = f"({n1d} * {n2d} * CAST(__fold AS DOUBLE) / ({n1d} + {n2d}))"
    return f"""
    WITH {_q6_cte()}, g AS (
        SELECT __q6, CAST(COUNT(*) AS BIGINT) AS __g,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS __c1
        FROM sq GROUP BY 1
    ), cum AS (
        SELECT __g,
               CAST(SUM(__c1) OVER (ORDER BY __q6) AS BIGINT) AS __f1,
               CAST(SUM(__g) OVER (ORDER BY __q6)
                    - SUM(__c1) OVER (ORDER BY __q6) AS BIGINT) AS __f2,
               CAST(SUM(__c1) OVER () AS BIGINT) AS __n1,
               CAST(SUM(__g) OVER () - SUM(__c1) OVER () AS BIGINT) AS __n2
        FROM g
    ), folded AS (
        SELECT MAX(__n1) AS n_en, MAX(__n2) AS n_rest,
               SUM(CAST({term} AS DECIMAL(18,12))) AS __fold
        FROM cum
    )
    SELECT n_en, n_rest,
           CASE WHEN n_en > 0 AND n_rest > 0
                THEN {stable_round_sql(t, 6)} END AS cvm_t
    FROM folded
    """


register("ext_cvm", q_ext_cvm, _cvm_oracle())


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-alternative trend test: does the quality
# score rise monotonically across ordered length buckets? With the
# (bucket, score) histogram densified over the bucket x distinct-values
# grid (|V| x <= 6 rows — bounded), the ties-counted-half doubled
# statistic is 2J = sum_cells c * (2*Lb + Lt) where Lb / Lt are the
# lower-bucket below-value / at-value cumulative counts — two window
# passes on the dense grid, everything exact DECIMAL. The normal
# z uses the exact first two moments of the no-tie null
# (4E[J] = n^2 - sum n_b^2; 72*Var[J] = n^2(2n+3) - sum n_b^2(2n_b+3));
# ties are counted half in J (midrank convention) but the variance is
# the tie-uncorrected form — documented, mirrored in the oracle.
_JT_LEN_DIV = 500
_JT_LEN_MAX = 5


def q_ext_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bucket = F.least(
        F.floor(F.col("n_chars") / F.lit(_JT_LEN_DIV)).cast("int"),
        F.lit(_JT_LEN_MAX),
    )
    h = (
        docs.filter(F.col("n_chars").isNotNull())
        .select(bucket.alias("__bk"), _q6())
        .groupBy("__bk", "__q6")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=False)
    )
    vals = h.select("__q6").distinct()
    buckets = h.select("__bk").distinct()
    grid = vals.crossJoin(F.broadcast(buckets)).join(
        h, ["__q6", "__bk"], "left"
    ).select(
        "__q6", "__bk", F.coalesce(F.col("__c"), F.lit(0)).cast("long").alias("__c0")
    )
    wbelow = (
        Window.partitionBy("__bk")
        .orderBy("__q6")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g1 = grid.select(
        "__q6",
        "__bk",
        "__c0",
        F.coalesce(F.sum("__c0").over(wbelow), F.lit(0))
        .cast("long")
        .alias("__below"),
    )
    wlow = (
        Window.partitionBy("__q6")
        .orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g2 = g1.select(
        "__c0",
        F.coalesce(F.sum("__below").over(wlow), F.lit(0))
        .cast("long")
        .alias("__lb"),
        F.coalesce(F.sum("__c0").over(wlow), F.lit(0)).cast("long").alias("__lt"),
    )
    j2 = g2.agg(
        F.sum(
            F.col("__c0").cast("decimal(38,0)")
            * (F.lit(2) * F.col("__lb") + F.col("__lt"))
        ).alias("__j2")
    )
    marg = h.groupBy("__bk").agg(F.sum("__c").cast("long").alias("__nb"))
    mom = marg.agg(
        F.sum("__nb").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            F.col("__nb").cast("decimal(38,0)") * F.col("__nb")
        ).alias("__s2"),
        F.sum(
            F.col("__nb").cast("decimal(38,0)")
            * F.col("__nb")
            * (F.lit(2) * F.col("__nb") + 3)
        ).alias("__s3"),
    )
    out = mom.crossJoin(F.broadcast(j2))
    nd = F.col("n").cast("decimal(38,0)")
    e4 = (nd * F.col("n") - F.col("__s2")).cast("double")
    var72 = (nd * F.col("n") * (F.lit(2) * F.col("n") + 3) - F.col("__s3")).cast(
        "double"
    )
    z = (F.lit(2.0) * F.col("__j2").cast("double") - e4) / (
        F.lit(4.0) * F.sqrt(var72 / F.lit(72.0))
    )
    ok = (F.col("k") >= 2) & (var72 > 0)
    return out.select(
        "n",
        "k",
        F.col("__j2").cast("long").alias("j2"),
        F.when(ok, stable_round(z, 6)).alias("z_stat"),
    )


def _jonckheere_oracle() -> str:
    # decimal-exempt: exact-integer moment accumulators (n^2, n^2(2n+3));
    # the sqrt below is the z tail, not these casts' operand.
    e4 = "CAST(CAST(n AS DECIMAL(38,0)) * n - __s2 AS DOUBLE)"
    var72 = (
        "CAST(CAST(n AS DECIMAL(38,0)) * n * (2 * n + 3) - __s3 AS DOUBLE)"
    )
    z = (
        f"((2.0 * {exact_dec_double_sql('__j2')} - {e4})"
        f" / (4.0 * sqrt({var72} / 72.0)))"
    )
    return f"""
    WITH {_q6_cte()}, h AS (
        SELECT LEAST(CAST(FLOOR(n_chars / {_JT_LEN_DIV}) AS INTEGER),
                     {_JT_LEN_MAX}) AS __bk,
               __q6, CAST(COUNT(*) AS BIGINT) AS __c
        FROM sq WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ), grid AS (
        SELECT v.__q6, b.__bk,
               CAST(COALESCE(h.__c, 0) AS BIGINT) AS __c0
        FROM (SELECT DISTINCT __q6 FROM h) v
        CROSS JOIN (SELECT DISTINCT __bk FROM h) b
        LEFT JOIN h ON h.__q6 = v.__q6 AND h.__bk = b.__bk
    ), g1 AS (
        SELECT __q6, __bk, __c0,
               CAST(COALESCE(SUM(__c0) OVER (PARTITION BY __bk ORDER BY __q6
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS __below
        FROM grid
    ), g2 AS (
        SELECT __c0,
               CAST(COALESCE(SUM(__below) OVER (PARTITION BY __q6 ORDER BY __bk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS __lb,
               CAST(COALESCE(SUM(__c0) OVER (PARTITION BY __q6 ORDER BY __bk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS __lt
        FROM g1
    ), j2 AS (
        SELECT SUM(CAST(__c0 AS DECIMAL(38,0)) * (2 * __lb + __lt)) AS __j2
        FROM g2
    ), marg AS (
        SELECT __bk, CAST(SUM(__c) AS BIGINT) AS __nb FROM h GROUP BY 1
    ), mom AS (
        SELECT CAST(SUM(__nb) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST(__nb AS DECIMAL(38,0)) * __nb) AS __s2,
               SUM(CAST(__nb AS DECIMAL(38,0)) * __nb * (2 * __nb + 3))
                   AS __s3
        FROM marg
    )
    SELECT n, k, CAST(__j2 AS BIGINT) AS j2,
           CASE WHEN k >= 2 AND {var72} > 0
                THEN {stable_round_sql(z, 6)} END AS z_stat
    FROM mom, j2
    """


register("ext_jonckheere", q_ext_jonckheere, _jonckheere_oracle())


# ---------------------------------------------------------------------------
# Per-language 1-D Wasserstein-1 (earth-mover) distance vs the rest of
# the corpus: W1 = integral |F_lang - F_rest| over the score domain =
# sum over consecutive distinct values of |cum_l * n - cum_g * n_l|
# * gap / (n_l * n_r). The numerator is an exact integer (narrowed
# operands: counts fit DECIMAL(18,0) to n = 1e18), the gap an exact
# DECIMAL(7,6) (scores live in [0, 1]), so the per-step product is
# DECIMAL(38,6) EXACT (30+7+1 = 38 — fits precision, no silent scale
# narrowing) and the whole sum collapses to ONE IEEE division. The
# dense lang x values grid (<= |langs| x |V|) aligns each language's
# CDF with the global value list.


def q_ext_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = (
        docs.select("lang", _q6())
        .groupBy("lang", "__q6")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=False)
    )
    wv = Window.orderBy("__q6")
    gv = (
        h.groupBy("__q6")
        .agg(F.sum("__c").cast("long").alias("__g"))
        .select(
            "__q6",
            F.sum("__g").over(wv).cast("long").alias("__cumg"),
            F.lead("__q6").over(wv).alias("__nextv"),
        )
    )
    langs = h.select("lang").distinct()
    nl = h.groupBy("lang").agg(F.sum("__c").cast("long").alias("__nl"))
    tot = h.agg(F.sum("__c").cast("long").alias("__n"))
    grid = (
        gv.crossJoin(F.broadcast(langs))
        .join(h, ["lang", "__q6"], "left")
        .select(
            "lang",
            "__q6",
            "__cumg",
            "__nextv",
            F.coalesce(F.col("__c"), F.lit(0)).cast("long").alias("__c0"),
        )
    )
    wl = Window.partitionBy("lang").orderBy("__q6")
    cum = grid.select(
        "lang",
        "__cumg",
        "__nextv",
        F.col("__q6"),
        F.sum("__c0").over(wl).cast("long").alias("__cuml"),
    )
    j = cum.join(F.broadcast(nl), "lang").crossJoin(F.broadcast(tot))
    num = (
        F.col("__cuml").cast("decimal(18,0)") * F.col("__n").cast("decimal(18,0)")
        - F.col("__cumg").cast("decimal(18,0)") * F.col("__nl").cast("decimal(18,0)")
    )
    gap = (F.col("__nextv") - F.col("__q6")).cast("decimal(7,6)")
    step = F.abs(num).cast("decimal(30,0)") * gap
    per = (
        j.filter(F.col("__nextv").isNotNull())
        .groupBy("lang", "__nl", "__n")
        .agg(F.sum(step).alias("__w"))
    )
    nld = F.col("__nl").cast("double")
    nrd = (F.col("__n") - F.col("__nl")).cast("double")
    ok = (F.col("__nl") > 0) & (F.col("__nl") < F.col("__n"))
    return per.select(
        "lang",
        F.col("__nl").alias("n_lang"),
        F.when(ok, F.col("__w").cast("double") / (nld * nrd)).alias(
            "wasserstein_1"
        ),
    )


def _wasserstein_oracle() -> str:
    num = (
        "(CAST(__cuml AS DECIMAL(18,0)) * CAST(__n AS DECIMAL(18,0))"
        " - CAST(__cumg AS DECIMAL(18,0)) * CAST(__nl AS DECIMAL(18,0)))"
    )
    w1 = (
        f"({exact_dec_double_sql('__w')}"
        f" / (CAST(__nl AS DOUBLE) * CAST(__n - __nl AS DOUBLE)))"
    )
    return f"""
    WITH {_q6_cte()}, h AS (
        SELECT lang, __q6, CAST(COUNT(*) AS BIGINT) AS __c
        FROM sq GROUP BY 1, 2
    ), gv AS (
        SELECT __q6,
               CAST(SUM(__g) OVER (ORDER BY __q6) AS BIGINT) AS __cumg,
               LEAD(__q6) OVER (ORDER BY __q6) AS __nextv
        FROM (SELECT __q6, CAST(SUM(__c) AS BIGINT) AS __g FROM h GROUP BY 1)
    ), nl AS (
        SELECT lang, CAST(SUM(__c) AS BIGINT) AS __nl FROM h GROUP BY 1
    ), t AS (SELECT CAST(SUM(__c) AS BIGINT) AS __n FROM h),
    grid AS (
        SELECT l.lang, gv.__q6, gv.__cumg, gv.__nextv,
               CAST(COALESCE(h.__c, 0) AS BIGINT) AS __c0
        FROM gv CROSS JOIN (SELECT DISTINCT lang FROM h) l
        LEFT JOIN h ON h.lang = l.lang AND h.__q6 = gv.__q6
    ), cum AS (
        SELECT lang, __cumg, __nextv, __q6,
               CAST(SUM(__c0) OVER (PARTITION BY lang ORDER BY __q6)
                   AS BIGINT) AS __cuml
        FROM grid
    ), per AS (
        SELECT lang, __nl, __n,
               SUM(CAST(ABS({num}) AS DECIMAL(30,0))
                   * CAST(__nextv - __q6 AS DECIMAL(7,6))) AS __w
        FROM cum JOIN nl USING (lang), t
        WHERE __nextv IS NOT NULL
        GROUP BY 1, 2, 3
    )
    SELECT lang, __nl AS n_lang,
           CASE WHEN __nl > 0 AND __nl < __n THEN {w1} END AS wasserstein_1
    FROM per
    """


register("ext_wasserstein", q_ext_wasserstein, _wasserstein_oracle())


# ---------------------------------------------------------------------------
# Hodges-Lehmann shift estimator of weekend vs weekday daily revenue:
# the median of ALL pairwise differences (weekend day - weekday day),
# the estimator the Mann-Whitney test inverts. The pair frame is
# calendar-bounded (|weekend| x |weekday| <= D^2/4 control-plane rows,
# corpus-independent — the Theil-Sen/Mann-Kendall adjudicated shape);
# differences are exact BIGINT cents, and the median is exact
# two-middle-rank selection (functions/ranks.py), so the single emitted
# double is (d_lo + d_hi) / count of exact integers.


def hl_from_daily(daily: DataFrame) -> DataFrame:
    """Hodges-Lehmann weekend-vs-weekday shift from a ``(day, c)`` daily
    frame: the registered query collapses the events to one row per day,
    then calls this."""
    dow = F.expr("weekday(day)").cast("int")
    wk = daily.filter(dow >= 5).select(F.col("c").alias("__cx"))
    wd = daily.filter(dow < 5).select(F.col("c").alias("__cy"))
    counts = daily.agg(
        F.sum((dow >= 5).cast("int")).cast("long").alias("n_weekend"),
        F.sum((dow < 5).cast("int")).cast("long").alias("n_weekday"),
    )
    pairs = wk.crossJoin(F.broadcast(wd)).select(
        (F.col("__cx") - F.col("__cy")).cast("long").alias("__d")
    )
    w = Window.orderBy("__d")
    wall = Window.partitionBy()
    ranked = pairs.select(
        "__d",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wall).cast("long").alias("__np"),
    )
    r_lo, r_hi = middle_ranks(F.col("__np"))
    med = ranked.filter((F.col("__rn") == r_lo) | (F.col("__rn") == r_hi)).agg(
        F.max("__np").cast("long").alias("n_pairs"),
        (F.sum("__d").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "hl_shift_cents"
        ),
    )
    return counts.crossJoin(F.broadcast(med)).select(
        "n_weekend", "n_weekday", "n_pairs", "hl_shift_cents"
    )


def q_ext_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hl_from_daily(_daily_cents(spark, sf_dir))


def _hl_oracle() -> str:
    return f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    wk AS (SELECT c AS __cx FROM daily WHERE isodow(day) - 1 >= 5),
    wd AS (SELECT c AS __cy FROM daily WHERE isodow(day) - 1 < 5),
    counts AS (
        SELECT CAST(SUM(CASE WHEN isodow(day) - 1 >= 5 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_weekend,
               CAST(SUM(CASE WHEN isodow(day) - 1 < 5 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_weekday
        FROM daily
    ), pairs AS (
        SELECT CAST(wk.__cx - wd.__cy AS BIGINT) AS __d FROM wk CROSS JOIN wd
    ), ranked AS (
        SELECT __d,
               ROW_NUMBER() OVER (ORDER BY __d) AS __rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS __np
        FROM pairs
    ), med AS (
        SELECT CAST(MAX(__np) AS BIGINT) AS n_pairs,
               CAST(SUM(__d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS hl_shift_cents
        FROM ranked
        WHERE __rn = (__np + 1) // 2 OR __rn = __np // 2 + 1
    )
    SELECT n_weekend, n_weekday, n_pairs, hl_shift_cents
    FROM counts, med
    """


register("ext_hodges_lehmann", q_ext_hodges_lehmann, _hl_oracle())


# ---------------------------------------------------------------------------
# Siegel repeated-medians slope of the daily revenue series: for each
# day i, take the median over j != i of the pairwise slope, then the
# median of those per-day medians — 50% breakdown vs Theil-Sen's 29%.
# The pair join is the calendar-bounded daily frame against itself
# (broadcast side bounded); each slope is one IEEE division of exact
# integers; both median layers are exact two-middle-rank selections.
# Per-day medians average two identically-computed doubles; the outer
# ordering of those doubles is engine-identical because every slope is
# the same fixed-order IEEE expression in both engines.


def siegel_from_daily(daily: DataFrame) -> DataFrame:
    """Siegel repeated-medians slope from a ``(day, c)`` daily frame
    (see hl_from_daily)."""
    a = daily.select(F.col("day").alias("da"), F.col("c").alias("ca"))
    b = daily.select(F.col("day").alias("db"), F.col("c").alias("cb"))
    slope = (F.col("cb") - F.col("ca")).cast("double") / F.datediff(
        F.col("db"), F.col("da")
    ).cast("double")
    pairs = a.join(F.broadcast(b), F.col("da") != F.col("db")).select(
        "da", slope.alias("__s")
    )
    wi = Window.partitionBy("da").orderBy("__s")
    wcnt = Window.partitionBy("da")
    ranked = pairs.select(
        "da",
        "__s",
        F.row_number().over(wi).alias("__rn"),
        F.count(F.lit(1)).over(wcnt).cast("long").alias("__ni"),
    )
    r_lo, r_hi = middle_ranks(F.col("__ni"))
    permed = (
        ranked.filter((F.col("__rn") == r_lo) | (F.col("__rn") == r_hi))
        .groupBy("da")
        .agg(
            (F.sum("__s") / F.count(F.lit(1)).cast("double")).alias("__m")
        )
    )
    wo = Window.orderBy("__m", "da")
    wall = Window.partitionBy()
    outer = permed.select(
        "__m",
        F.row_number().over(wo).alias("__rn"),
        F.count(F.lit(1)).over(wall).cast("long").alias("__nd"),
    )
    o_lo, o_hi = middle_ranks(F.col("__nd"))
    return outer.filter(
        (F.col("__rn") == o_lo) | (F.col("__rn") == o_hi)
    ).agg(
        F.max("__nd").cast("long").alias("n_days"),
        (F.sum("__m") / F.count(F.lit(1)).cast("double")).alias("siegel_slope"),
    )


def q_ext_siegel_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return siegel_from_daily(_daily_cents(spark, sf_dir))


def _siegel_oracle() -> str:
    return f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    pairs AS (
        SELECT a.day AS da,
               CAST(b.c - a.c AS DOUBLE)
                   / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS __s
        FROM daily a JOIN daily b ON a.day <> b.day
    ), ranked AS (
        SELECT da, __s,
               ROW_NUMBER() OVER (PARTITION BY da ORDER BY __s) AS __rn,
               CAST(COUNT(*) OVER (PARTITION BY da) AS BIGINT) AS __ni
        FROM pairs
    ), permed AS (
        SELECT da, SUM(__s) / CAST(COUNT(*) AS DOUBLE) AS __m
        FROM ranked
        WHERE __rn = (__ni + 1) // 2 OR __rn = __ni // 2 + 1
        GROUP BY da
    ), outer_r AS (
        SELECT __m,
               ROW_NUMBER() OVER (ORDER BY __m, da) AS __rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS __nd
        FROM permed
    )
    SELECT CAST(MAX(__nd) AS BIGINT) AS n_days,
           SUM(__m) / CAST(COUNT(*) AS DOUBLE) AS siegel_slope
    FROM outer_r
    WHERE __rn = (__nd + 1) // 2 OR __rn = __nd // 2 + 1
    """


register("ext_siegel_slopes", q_ext_siegel_slopes, _siegel_oracle())


# ---------------------------------------------------------------------------
# Friedman test of daily revenue across event types over complete
# day-blocks: blocks are days where EVERY event type transacted;
# within each block the types are ranked by exact cent totals with
# midrank ties (2*avgrank = 2*rank + ties - 1, exact integers), and
# chi2_F = [3 / (b*k*(k+1))] * sum (2R_j)^2 - 3*b*(k+1) with the
# standard tie correction C = 1 - sum(t^3 - t) / (b*k*(k^2-1)). The
# corpus collapses once to the calendar x |event_types| cell frame;
# every accumulator is exact (2R_j <= 2*b*k fits DECIMAL(18,0); its
# square is DECIMAL(37,0) exact), and both emitted statistics are
# fixed IEEE tails quantized at the source.


def q_ext_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    cell = (
        events.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(
            F.to_date("ts").alias("day"), F.col("event_type").alias("et")
        )
        .agg(F.sum(cents).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    kf = cell.agg(F.countDistinct("et").cast("long").alias("__k"))
    perday = cell.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("__kd"))
    complete = (
        perday.crossJoin(F.broadcast(kf))
        .filter(F.col("__kd") == F.col("__k"))
        .select("day")
    )
    cc = cell.join(F.broadcast(complete), "day")
    wr = Window.partitionBy("day").orderBy("c")
    wt = Window.partitionBy("day", "c")
    ranked = cc.select(
        "day",
        "et",
        (
            F.lit(2) * F.rank().over(wr)
            + F.count(F.lit(1)).over(wt)
            - 1
        )
        .cast("long")
        .alias("__avg2"),
    )
    per = ranked.groupBy("et").agg(F.sum("__avg2").cast("long").alias("__r2"))
    s = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            F.col("__r2").cast("decimal(18,0)") * F.col("__r2").cast("decimal(18,0)")
        ).alias("__ssq"),
    )
    b = complete.agg(F.count(F.lit(1)).cast("long").alias("n_blocks"))
    ties = (
        cc.groupBy("day", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("__t"))
        .agg(
            F.sum(
                F.col("__t").cast("decimal(38,0)")
                * (F.col("__t") - 1)
                * (F.col("__t") + 1)
            ).alias("__t3")
        )
    )
    out = s.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(ties))
    bd = F.col("n_blocks").cast("double")
    kd = F.col("k").cast("double")
    chi2 = (
        F.lit(3.0)
        * F.col("__ssq").cast("double")
        / (bd * kd * (kd + F.lit(1.0)))
        - F.lit(3.0) * bd * (kd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("__t3").cast("double") / (
        bd * kd * (kd * kd - F.lit(1.0))
    )
    ok = (F.col("k") >= 2) & (F.col("n_blocks") >= 1)
    return out.select(
        "n_blocks",
        "k",
        F.when(ok, stable_round(chi2, 6)).alias("friedman_chi2"),
        F.when(ok & (corr > 0), stable_round(chi2 / corr, 6)).alias(
            "friedman_chi2_tie_corrected"
        ),
    )


def _friedman_oracle() -> str:
    bd = "CAST(n_blocks AS DOUBLE)"
    kd = "CAST(k AS DOUBLE)"
    chi2 = (
        f"(3.0 * {exact_dec_double_sql('__ssq')}"
        f" / ({bd} * {kd} * ({kd} + 1.0)) - 3.0 * {bd} * ({kd} + 1.0))"
    )
    corr = (
        f"(1.0 - {exact_dec_double_sql('__t3')}"
        f" / ({bd} * {kd} * ({kd} * {kd} - 1.0)))"
    )
    return f"""
    WITH cell AS (
        SELECT CAST(ts AS DATE) AS day, event_type AS et,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                   AS BIGINT) AS c
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        GROUP BY 1, 2
    ), kf AS (SELECT CAST(COUNT(DISTINCT et) AS BIGINT) AS __k FROM cell),
    complete AS (
        SELECT day FROM cell, kf GROUP BY day, __k
        HAVING COUNT(*) = MAX(__k)
    ), cc AS (
        SELECT cell.* FROM cell JOIN complete USING (day)
    ), ranked AS (
        SELECT et,
               CAST(2 * RANK() OVER (PARTITION BY day ORDER BY c)
                    + COUNT(*) OVER (PARTITION BY day, c) - 1
                    AS BIGINT) AS __avg2
        FROM cc
    ), per AS (
        SELECT et, CAST(SUM(__avg2) AS BIGINT) AS __r2 FROM ranked GROUP BY 1
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST(__r2 AS DECIMAL(18,0)) * CAST(__r2 AS DECIMAL(18,0)))
                   AS __ssq
        FROM per
    ), b AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks FROM complete
    ), ties AS (
        SELECT SUM(CAST(__t AS DECIMAL(38,0)) * (__t - 1) * (__t + 1)) AS __t3
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS __t FROM cc GROUP BY day, c)
    )
    SELECT n_blocks, k,
           CASE WHEN k >= 2 AND n_blocks >= 1
                THEN {stable_round_sql(chi2, 6)} END AS friedman_chi2,
           CASE WHEN k >= 2 AND n_blocks >= 1 AND {corr} > 0
                THEN {stable_round_sql(f"({chi2} / {corr})", 6)} END
               AS friedman_chi2_tie_corrected
    FROM s, b, ties
    """


register("ext_friedman", q_ext_friedman, _friedman_oracle())
