"""Round-13 queries: a two-proportion z-test, a two-changepoint split
and a Benjamini-Hochberg panel.

- ``two_proportion_panel``: A/B conversion z-test on events — users
  hash-bucketed into two variants (portable md5 bucket, the
  assign_split family), conversion = has a 'purchase' event; pooled
  two-proportion z. Exact BIGINT counts -> single IEEE divisions and
  ONE sqrt (IEEE-exact in both engines); no libm.
- ``binseg2_changepoint``: best TWO-changepoint (3-segment) split of
  the daily revenue series by exact SSE gain — the second level of
  ``ext_binseg_changepoint``'s recursion, done exhaustively on the
  calendar-bounded (t1 < t2) prefix-pair grid (the Mann-Kendall
  bounded-BNL precedent: D^2/2 control-plane pairs, corpus-independent).
- ``fdr_bh_panel``: Benjamini-Hochberg step-up over the per-source
  mean-quality z-test family (each source vs its complement, Welch
  form from exact moments). p-values via the Abramowitz-Stegun
  26.2.17 normal-CDF polynomial with the expression TEXT generated
  once and fed verbatim to both engines (the ext_pacf trick); the one
  libm call (exp) is quantized at the source (12dp term, 6dp p) per
  the ext_zipf_fit precedent. BH runs on the |sources|-row frame:
  rank by p, threshold (i/m)*q, reject everything at or below the
  largest passing rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.rounding import (
    exact_dec_double_sql,
    stable_round,
    stable_round_sql,
)
from be_analytic_etl_spark.operators import textstats as T
from be_analytic_etl_spark.queries_extensions import _t
from be_analytic_etl_spark.queries_round8 import _DAILY_CENTS_SQL, _daily_cents
from be_analytic_etl_spark.registry import register

# ---------------------------------------------------------------------------
# Two-proportion z-test (A/B conversion)

_AB_SALT = "ab"


def two_proportion_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sampling import hash_bucket

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # conversion = day-0 purchase: the user bought on their FIRST active
    # day (every synthetic user eventually purchases, so has-a-purchase
    # is degenerate at p = 1; day-0 conversion is the behaviorally
    # standard non-trivial rate — 3/15 at sf0.001, 64/150 at sf0.01)
    w_u = Window.partitionBy("user_id")
    d = F.to_date(F.col("ts").cast("timestamp"))
    per_user = (
        ev.select(
            "user_id",
            d.alias("__d"),
            "event_type",
        )
        .withColumn("__d0", F.min("__d").over(w_u))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("__d") == F.col("__d0")),
                    1,
                ).otherwise(0)
            ).alias("__conv")
        )
    )
    variant = (hash_bucket("user_id", _AB_SALT) % 2).cast("int")
    tagged = per_user.select(variant.alias("__v"), "__conv")
    one = tagged.groupBy().agg(
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("__v") == 0, F.col("__conv")).otherwise(0))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("__v") == 1, F.col("__conv")).otherwise(0))
        .cast("long")
        .alias("x_b"),
    )
    nad, nbd = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    pa = F.col("x_a").cast("double") / nad
    pb = F.col("x_b").cast("double") / nbd
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se2 = pp * (F.lit(1.0) - pp) * (F.lit(1.0) / nad + F.lit(1.0) / nbd)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (se2 > 0)
    z = (pa - pb) / F.sqrt(se2)
    return one.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.when(F.col("n_a") > 0, stable_round(pa, 12)).alias("p_a"),
        F.when(F.col("n_b") > 0, stable_round(pb, 12)).alias("p_b"),
        F.when(ok, stable_round(pa - pb, 12)).alias("risk_diff"),
        F.when(ok, stable_round(z, 6)).alias("z_stat"),
    )


def two_proportion_panel_oracle() -> str:
    pa = "(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
    pb = "(CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
    pp = "(CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
    se2 = (
        f"({pp} * (1.0 - {pp})"
        f" * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"
    )
    z = f"(({pa} - {pb}) / sqrt({se2}))"
    ok = f"(n_a > 0 AND n_b > 0 AND {se2} > 0)"
    return f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS __d, event_type,
               MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS __d0
        FROM events WHERE user_id IS NOT NULL
    ), per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' AND __d = __d0
                        THEN 1 ELSE 0 END) AS __conv
        FROM ev GROUP BY user_id
    ), tagged AS (
        SELECT CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                        || '|{_AB_SALT}'), 1, 15) AS BIGINT) % 10000 % 2
                    AS INTEGER) AS __v,
               __conv
        FROM per_user
    ), one AS (
        SELECT CAST(SUM(CASE WHEN __v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN __v = 0 THEN __conv ELSE 0 END) AS BIGINT) AS x_a,
               CAST(SUM(CASE WHEN __v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN __v = 1 THEN __conv ELSE 0 END) AS BIGINT) AS x_b
        FROM tagged
    )
    SELECT n_a, x_a, n_b, x_b,
           CASE WHEN n_a > 0 THEN {stable_round_sql(pa, 12)} END AS p_a,
           CASE WHEN n_b > 0 THEN {stable_round_sql(pb, 12)} END AS p_b,
           CASE WHEN {ok} THEN {stable_round_sql(f"({pa} - {pb})", 12)} END
               AS risk_diff,
           CASE WHEN {ok} THEN {stable_round_sql(z, 6)} END AS z_stat
    FROM one
    """


# ---------------------------------------------------------------------------
# Two-changepoint (3-segment) exhaustive binary segmentation


def binseg2_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir)
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("__s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("__q"),
    )
    pre = daily.select(
        "day",
        F.count(F.lit(1)).over(w_cum).cast("long").alias("__n1"),
        F.sum(F.col("c").cast("decimal(38,0)")).over(w_cum).alias("__s1"),
    ).localCheckpoint(eager=False)
    a = pre.select(
        F.col("day").alias("day1"),
        F.col("__n1").alias("__na"),
        F.col("__s1").alias("__sa"),
    )
    b = pre.select(
        F.col("day").alias("day2"),
        F.col("__n1").alias("__nb"),
        F.col("__s1").alias("__sb"),
    )
    # calendar-bounded pair grid (t1 < t2), broadcast one side — the
    # Mann-Kendall bounded-BNL shape
    grid = (
        a.join(F.broadcast(b), F.col("day1") < F.col("day2"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("__nb") < F.col("__n"))
    )
    n1d = F.col("__na").cast("double")
    n2d = (F.col("__nb") - F.col("__na")).cast("double")
    n3d = (F.col("__n") - F.col("__nb")).cast("double")
    nd = F.col("__n").cast("double")
    s1d = F.col("__sa").cast("double")
    s2d = (F.col("__sb") - F.col("__sa")).cast("double")
    s3d = (F.col("__s") - F.col("__sb")).cast("double")
    sd = F.col("__s").cast("double")
    qd = F.col("__q").cast("double")
    gain = (
        s1d * s1d / n1d
        + s2d * s2d / n2d
        + s3d * s3d / n3d
        - sd * sd / nd
    )
    sse = qd - sd * sd / nd
    score = stable_round(gain / F.when(sse > 0, sse), 12)
    scored = grid.select(
        "day1",
        "day2",
        F.col("__na").alias("n_seg1"),
        (F.col("__nb") - F.col("__na")).alias("n_seg2"),
        (F.col("__n") - F.col("__nb")).alias("n_seg3"),
        stable_round(s1d / n1d / F.lit(100.0), 6).alias("mean_seg1"),
        stable_round(s2d / n2d / F.lit(100.0), 6).alias("mean_seg2"),
        stable_round(s3d / n3d / F.lit(100.0), 6).alias("mean_seg3"),
        score.alias("var_explained"),
    )
    w_rank = Window.orderBy(
        F.col("var_explained").desc_nulls_last(),
        F.col("day1"),
        F.col("day2"),
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumnsRenamed({"day1": "split_day_1", "day2": "split_day_2"})
    )


def binseg2_changepoint_oracle() -> str:
    s1d = exact_dec_double_sql("__sa")
    s2d = exact_dec_double_sql("(__sb - __sa)")
    s3d = exact_dec_double_sql("(__s - __sb)")
    sd = exact_dec_double_sql("__s")
    qd = exact_dec_double_sql("__q")
    n1d = "CAST(__na AS DOUBLE)"
    n2d = "CAST(__nb - __na AS DOUBLE)"
    n3d = "CAST(__n - __nb AS DOUBLE)"
    nd = "CAST(__n AS DOUBLE)"
    gain = (
        f"({s1d} * {s1d} / {n1d} + {s2d} * {s2d} / {n2d}"
        f" + {s3d} * {s3d} / {n3d} - {sd} * {sd} / {nd})"
    )
    sse = f"({qd} - {sd} * {sd} / {nd})"
    score = stable_round_sql(
        f"({gain} / (CASE WHEN {sse} > 0 THEN {sse} END))", 12
    )
    return f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS __n,
               SUM(CAST(c AS DECIMAL(38,0))) AS __s,
               SUM(CAST(c AS DECIMAL(38,0)) * c) AS __q
        FROM daily
    ), pre AS (
        SELECT day,
               CAST(COUNT(*) OVER w AS BIGINT) AS __n1,
               SUM(CAST(c AS DECIMAL(38,0))) OVER w AS __s1
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ), scored AS (
        SELECT a.day AS day1, b.day AS day2,
               a.__n1 AS __na, a.__s1 AS __sa,
               b.__n1 AS __nb, b.__s1 AS __sb,
               t.__n, t.__s, t.__q
        FROM pre a JOIN pre b ON a.day < b.day, tot t
        WHERE b.__n1 < t.__n
    ), ranked AS (
        SELECT day1 AS split_day_1, day2 AS split_day_2,
               __na AS n_seg1,
               __nb - __na AS n_seg2,
               __n - __nb AS n_seg3,
               {stable_round_sql(f"({s1d} / {n1d} / 100.0)", 6)} AS mean_seg1,
               {stable_round_sql(f"({s2d} / {n2d} / 100.0)", 6)} AS mean_seg2,
               {stable_round_sql(f"({s3d} / {n3d} / 100.0)", 6)} AS mean_seg3,
               {score} AS var_explained,
               ROW_NUMBER() OVER (
                   ORDER BY {score} DESC NULLS LAST, day1, day2) AS __rn
        FROM scored
    )
    SELECT split_day_1, split_day_2, n_seg1, n_seg2, n_seg3,
           mean_seg1, mean_seg2, mean_seg3, var_explained
    FROM ranked WHERE __rn = 1
    """


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the per-source mean-quality z family

_BH_Q_MILLI = 100  # q = 0.10, embedded exactly as i * 100 / (m * 1000)

#: Abramowitz-Stegun 26.2.17 two-sided normal p as expression TEXT over
#: a column named `az` (= |z|), shared verbatim by both engines (the
#: ext_pacf discipline). The one libm call (exp) is quantized inside
#: stable_round at 6dp — the ext_zipf_fit quantize-at-source precedent
#: for transcendentals.
_AS_T = "(1e0 / (1e0 + 0.2316419e0 * az))"
_AS_POLY = (
    f"({_AS_T} * (0.319381530e0 + {_AS_T} * (-0.356563782e0"
    f" + {_AS_T} * (1.781477937e0 + {_AS_T} * (-1.821255978e0"
    f" + {_AS_T} * 1.330274429e0)))))"
)
P_TWO_SIDED_EXPR = (
    "(2e0 * (0.3989422804014327e0 * exp(-(az * az) / 2e0))"
    f" * {_AS_POLY})"
)


def fdr_bh_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .localCheckpoint(eager=False)
    )
    tot = per.agg(
        F.sum("n_s").cast("long").alias("__n"),
        F.sum("s1").alias("__s1"),
        F.sum("s2").alias("__s2"),
    )
    j = per.crossJoin(F.broadcast(tot))
    n1d = F.col("n_s").cast("double")
    n2 = F.col("__n") - F.col("n_s")
    n2d = n2.cast("double")
    m1 = F.col("s1").cast("double") / n1d
    m2 = (F.col("__s1") - F.col("s1")).cast("double") / n2d
    v1 = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * m1
    ) / (n1d - F.lit(1.0))
    v2 = (
        (F.col("__s2") - F.col("s2")).cast("double")
        - (F.col("__s1") - F.col("s1")).cast("double") * m2
    ) / (n2d - F.lit(1.0))
    se2 = v1 / n1d + v2 / n2d
    ok = (F.col("n_s") > 1) & (n2 > 1) & (se2 > 0)
    z = F.when(ok, stable_round((m1 - m2) / F.sqrt(se2), 6))
    zd = j.select("source", F.col("n_s").alias("n_docs"), z.alias("z_stat"))
    p = zd.select(
        "source",
        "n_docs",
        "z_stat",
        F.abs(F.col("z_stat")).alias("az"),
    ).select(
        "source",
        "n_docs",
        "z_stat",
        F.when(
            F.col("az").isNotNull(),
            stable_round(F.expr(P_TWO_SIDED_EXPR), 6),
        ).alias("p_two"),
    )
    w_rank = Window.orderBy(F.col("p_two").asc_nulls_last(), F.col("source"))
    m = F.count(F.when(F.col("p_two").isNotNull(), 1)).over(
        Window.partitionBy()
    )
    ranked = p.select(
        "*",
        F.row_number().over(w_rank).alias("p_rank"),
        m.cast("long").alias("m_tests"),
    )
    thresh = (
        (F.col("p_rank") * F.lit(_BH_Q_MILLI)).cast("double")
        / (F.col("m_tests") * F.lit(1000)).cast("double")
    )
    flagged = ranked.select(
        "*",
        F.when(
            F.col("p_two").isNotNull(), stable_round(thresh, 12)
        ).alias("bh_thresh"),
        F.when(
            F.col("p_two").isNotNull() & (F.col("p_two") <= thresh), 1
        )
        .otherwise(0)
        .alias("__pass"),
    )
    k = F.max(F.when(F.col("__pass") == 1, F.col("p_rank"))).over(
        Window.partitionBy()
    )
    return flagged.select(
        "source",
        "n_docs",
        "z_stat",
        "p_two",
        F.when(F.col("p_two").isNotNull(), F.col("p_rank"))
        .cast("int")
        .alias("p_rank"),
        "m_tests",
        "bh_thresh",
        F.coalesce(
            F.col("p_two").isNotNull() & (F.col("p_rank") <= k),
            F.lit(False),
        ).alias("reject"),
    )


def fdr_bh_panel_oracle() -> str:
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

    s1d = exact_dec_double_sql("s1")
    g1d = exact_dec_double_sql("(__s1 - s1)")
    m1 = f"({s1d} / CAST(n_s AS DOUBLE))"
    m2 = f"({g1d} / CAST(__n - n_s AS DOUBLE))"
    v1 = (
        f"(({exact_dec_double_sql('s2')} - {s1d} * {m1})"
        f" / (CAST(n_s AS DOUBLE) - 1.0))"
    )
    v2 = (
        f"(({exact_dec_double_sql('(__s2 - s2)')} - {g1d} * {m2})"
        f" / (CAST(__n - n_s AS DOUBLE) - 1.0))"
    )
    se2 = f"({v1} / CAST(n_s AS DOUBLE) + {v2} / CAST(__n - n_s AS DOUBLE))"
    ok = f"(n_s > 1 AND __n - n_s > 1 AND {se2} > 0)"
    z = stable_round_sql(f"(({m1} - {m2}) / sqrt({se2}))", 6)
    thresh = (
        f"(CAST(p_rank * {_BH_Q_MILLI} AS DOUBLE)"
        f" / CAST(m_tests * 1000 AS DOUBLE))"
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
    ), tot AS (
        SELECT CAST(SUM(n_s) AS BIGINT) AS __n,
               SUM(s1) AS __s1, SUM(s2) AS __s2
        FROM per
    ), zrows AS (
        SELECT source, n_s AS n_docs,
               CASE WHEN {ok} THEN {z} END AS z_stat
        FROM per, tot
    ), prows AS (
        SELECT source, n_docs, z_stat, abs(z_stat) AS az FROM zrows
    ), pvals AS (
        SELECT source, n_docs, z_stat,
               CASE WHEN az IS NOT NULL
                    THEN {stable_round_sql(P_TWO_SIDED_EXPR, 6)} END AS p_two
        FROM prows
    ), ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY p_two ASC NULLS LAST, source)
                   AS p_rank,
               CAST(COUNT(p_two) OVER () AS BIGINT) AS m_tests
        FROM pvals
    ), flagged AS (
        SELECT *,
               CASE WHEN p_two IS NOT NULL
                    THEN {stable_round_sql(thresh, 12)} END AS bh_thresh,
               CASE WHEN p_two IS NOT NULL AND p_two <= {thresh}
                    THEN 1 ELSE 0 END AS __pass
        FROM ranked
    )
    SELECT source, n_docs, z_stat, p_two,
           CASE WHEN p_two IS NOT NULL
                THEN CAST(p_rank AS INTEGER) END AS p_rank,
           m_tests, bh_thresh,
           COALESCE(p_two IS NOT NULL
                    AND p_rank <= MAX(CASE WHEN __pass = 1 THEN p_rank END)
                                      OVER (),
                    FALSE) AS reject
    FROM flagged
    """


register("two_proportion_panel", two_proportion_panel, two_proportion_panel_oracle())
register("binseg2_changepoint", binseg2_changepoint, binseg2_changepoint_oracle())
register("fdr_bh_panel", fdr_bh_panel, fdr_bh_panel_oracle())
