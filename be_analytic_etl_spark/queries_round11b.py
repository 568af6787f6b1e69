"""Round-11 extension queries, batch 1: event-history / time-series
analytics that complete the lifecycle family (growth accounting, RFM,
funnel, retention) rounds 5-10 built:

- ``ext_survival_curve``: Kaplan-Meier-style survival panel of user
  LIFETIMES (first->last active day, right-censored at the corpus
  horizon): per distinct duration the at-risk count, event/censor
  counts, the KM step factor (n-d)/n (Kaplan & Meier, JASA 1958) and
  the Nelson-Aalen cumulative hazard (Nelson 1972; Aalen 1978) —
  chosen over the log-survival form because d/n terms need no libm at
  all (the class-6 discipline by construction).
- ``ext_inter_arrival``: per-user inter-event gap distribution on a
  log2 grid (bit-length buckets — the HLL rank trick, no log2 call)
  plus the exponential-renewal MLE rate; the arrival-process companion
  to ``ext_burstiness``.
- ``ext_binseg_changepoint``: best single binary-segmentation split of
  the daily revenue series (Scott & Knott 1974; the one-step CART/
  binseg move): the day maximizing explained variance, from exact
  prefix sums over the calendar-bounded daily frame — the LOCATION
  estimator beside ``ext_cusum_changepoint``'s drift detector.
- ``ext_ljung_box``: Ljung-Box portmanteau Q over the first 7 daily-
  revenue autocorrelations (Ljung & Box, Biometrika 1978) — the "is
  there ANY serial dependence" omnibus on top of ``ext_acf``'s
  per-lag readout, sharing its exact scaled-deviation algebra.
- ``ext_session_paths``: top-10 session-opening event-type paths
  (first three events per 30-minute-gap session) with traffic share —
  the navigational readout on top of ``sessionize``'s session frame.

Scale shapes: every query collapses events in ONE co-partitioned
window or groupBy pass (per-user lifetimes, per-user gaps, per-session
heads — all partitioned by user_id, parallelism grows with users); all
survival / changepoint / portmanteau algebra then runs on calendar- or
bucket-bounded control-plane frames. No global sort, no per-user
collect, no driver loop.

Float discipline (SCALE.md): counts and cents accumulate BIGINT/
DECIMAL exact; emitted doubles are single fixed-order IEEE expressions
of exact operands; any double term feeding a cross-row fold is first
normalized into [0, 1] and quantized at 12dp (survival factors, hazard
increments, variance-explained ratios, rho^2/(n-k) terms) before the
DECIMAL sum; divisions are guarded at the DIVISION itself
(``x / F.when(d > 0, d)``, oracle NULLIF) per the degenerate-gate
idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.rounding import (
    exact_dec_double_sql,
    stable_round,
    stable_round_sql,
)
from be_analytic_etl_spark.queries_extensions import _t
from be_analytic_etl_spark.queries_round8 import _DAILY_CENTS_SQL, _daily_cents
from be_analytic_etl_spark.registry import register

# ---------------------------------------------------------------------------
# Kaplan-Meier / Nelson-Aalen survival panel of user lifetimes.
# One groupBy(user) pass -> (first, last) per user; durations histogram
# is calendar-bounded (<= distinct lifetime lengths <= corpus days);
# at-risk counts are a descending cumulative sum over that bounded
# frame. A user whose last activity predates the corpus horizon is an
# EVENT (churned) at t = last - first; one still active at the horizon
# is CENSORED at t = horizon - first.


def q_ext_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    ud = ev.select("user_id", F.to_date("ts").alias("__d"))
    return survival_from_user_day(ud)


def survival_from_user_day(ud: DataFrame) -> DataFrame:
    """The KM/Nelson-Aalen fold over a (user_id, __d) presence frame —
    the same (user, day) substrate the growth-accounting query folds."""
    pu = ud.groupBy("user_id").agg(
        F.min("__d").alias("__f"), F.max("__d").alias("__l")
    )
    mx = pu.agg(F.max("__l").alias("__mx"))
    dur = pu.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("__l") < F.col("__mx"), F.datediff("__l", "__f")
        )
        .otherwise(F.datediff("__mx", "__f"))
        .cast("int")
        .alias("t_days"),
        (F.col("__l") < F.col("__mx")).cast("int").alias("__ev"),
    )
    hist = dur.groupBy("t_days").agg(
        F.sum("__ev").cast("long").alias("d_events"),
        F.sum(F.lit(1) - F.col("__ev")).cast("long").alias("c_censored"),
    )
    w_desc = Window.orderBy(F.col("t_days").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = hist.select(
        "t_days",
        "d_events",
        "c_censored",
        F.sum(F.col("d_events") + F.col("c_censored"))
        .over(w_desc)
        .cast("long")
        .alias("n_risk"),
    )
    # n_risk >= d_events + c_censored >= 1 on every emitted row, so the
    # divisions below cannot hit zero; both quotients live in [0, 1].
    km = stable_round(
        (F.col("n_risk") - F.col("d_events")).cast("double")
        / F.col("n_risk").cast("double"),
        12,
    )
    na = stable_round(
        F.col("d_events").cast("double") / F.col("n_risk").cast("double"), 12
    ).cast("decimal(18,12)")
    w_asc = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    return r.select(
        "t_days",
        "n_risk",
        "d_events",
        "c_censored",
        km.alias("km_factor"),
        F.sum(na).over(w_asc).cast("double").alias("na_cum_hazard"),
    )


def _survival_oracle() -> str:
    km = stable_round_sql(
        "(CAST(n_risk - d_events AS DOUBLE) / CAST(n_risk AS DOUBLE))", 12
    )
    na = stable_round_sql(
        "(CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE))", 12
    )
    return f"""
    WITH ud AS (
        SELECT user_id, CAST(ts AS DATE) AS d FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), pu AS (
        SELECT user_id, MIN(d) AS f, MAX(d) AS l FROM ud GROUP BY 1
    ), mx AS (SELECT MAX(l) AS m FROM pu),
    dur AS (
        SELECT CAST(CASE WHEN l < m THEN l - f ELSE m - f END AS INTEGER)
                   AS t_days,
               CASE WHEN l < m THEN 1 ELSE 0 END AS ev
        FROM pu, mx
    ), hist AS (
        SELECT t_days, CAST(SUM(ev) AS BIGINT) AS d_events,
               CAST(SUM(1 - ev) AS BIGINT) AS c_censored
        FROM dur GROUP BY 1
    ), r AS (
        SELECT t_days, d_events, c_censored,
               CAST(SUM(d_events + c_censored)
                   OVER (ORDER BY t_days DESC) AS BIGINT) AS n_risk
        FROM hist
    )
    SELECT t_days, n_risk, d_events, c_censored,
           {km} AS km_factor,
           CAST(SUM(CAST({na} AS DECIMAL(18,12)))
               OVER (ORDER BY t_days) AS DOUBLE) AS na_cum_hazard
    FROM r
    """


register("ext_survival_curve", q_ext_survival_curve, _survival_oracle())


# ---------------------------------------------------------------------------
# Inter-arrival gap distribution on a bit-length (log2) grid + the
# exponential-renewal MLE rate. One per-user LAG pass; the histogram is
# bounded by 64 buckets regardless of corpus size.


def q_ext_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_i = F.col("ts").cast("timestamp")
    gap_us = F.unix_micros(ts_i) - F.unix_micros(F.lag(ts_i, 1).over(w))
    gaps = (
        ev.select(gap_us.alias("__us"))
        .filter(F.col("__us").isNotNull())
        .select(F.expr("__us DIV 1000000").alias("__s"))
    )
    return inter_arrival_hist_from_gaps(gaps)


def inter_arrival_hist_from_gaps(gaps: DataFrame) -> DataFrame:
    """Spectrum readout over a ``__s`` (gap seconds) frame, which the
    query above derives from consecutive events per user."""
    # bit-length bucket: 0 for sub-second gaps, else length(bin(s)) —
    # the HLL rank trick, integer-exact in both engines.
    bucket = (
        F.when(F.col("__s") <= 0, F.lit(0))
        .otherwise(F.length(F.bin(F.col("__s"))))
        .cast("int")
    )
    hist = gaps.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.min("__s").alias("min_s"),
        F.max("__s").alias("max_s"),
        F.sum("__s").cast("long").alias("sum_s"),
    )
    tot = hist.agg(
        F.sum("n_gaps").cast("long").alias("__n"),
        F.sum("sum_s").cast("long").alias("__t"),
    )
    out = hist.crossJoin(F.broadcast(tot))
    mean_gap = F.col("__t").cast("double") / F.col("__n").cast("double")
    # rate = n/total: events per second of observed exposure, scaled to
    # per-day; guarded at the division (all-zero gaps -> NULL rate).
    rate = (
        F.lit(86400.0)
        * F.col("__n").cast("double")
        / F.when(F.col("__t") > 0, F.col("__t")).cast("double")
    )
    return out.select(
        "log2_bucket",
        "n_gaps",
        "min_s",
        "max_s",
        "sum_s",
        stable_round(
            F.col("n_gaps").cast("double") / F.col("__n").cast("double"), 12
        ).alias("share"),
        stable_round(mean_gap, 6).alias("mean_gap_s"),
        stable_round(rate, 6).alias("exp_rate_per_day"),
    )


def _inter_arrival_oracle() -> str:
    share = stable_round_sql(
        "(CAST(n_gaps AS DOUBLE) / CAST(__n AS DOUBLE))", 12
    )
    mean_gap = stable_round_sql(
        "(CAST(__t AS DOUBLE) / CAST(__n AS DOUBLE))", 6
    )
    rate = stable_round_sql(
        "(86400.0 * CAST(__n AS DOUBLE) / CAST(NULLIF(__t, 0) AS DOUBLE))", 6
    )
    return f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), g AS (
        SELECT (epoch_us(ts) - epoch_us(LAG(ts) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)))
                   // 1000000 AS s
        FROM ev
    ), gaps AS (SELECT s FROM g WHERE s IS NOT NULL),
    hist AS (
        SELECT CAST(CASE WHEN s <= 0 THEN 0 ELSE length(bin(s)) END
                    AS INTEGER) AS log2_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               MIN(s) AS min_s, MAX(s) AS max_s,
               CAST(SUM(s) AS BIGINT) AS sum_s
        FROM gaps GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n_gaps) AS BIGINT) AS __n,
               CAST(SUM(sum_s) AS BIGINT) AS __t
        FROM hist
    )
    SELECT log2_bucket, n_gaps, min_s, max_s, sum_s,
           {share} AS share,
           {mean_gap} AS mean_gap_s,
           {rate} AS exp_rate_per_day
    FROM hist, tot
    """


register("ext_inter_arrival", q_ext_inter_arrival, _inter_arrival_oracle())


# ---------------------------------------------------------------------------
# Binary-segmentation changepoint: the split day maximizing explained
# variance. Prefix sums over the calendar-bounded daily frame give every
# candidate's gain exactly; the score is NORMALIZED (gain / total SSE,
# in [0, 1]) before the 12dp quantization so the argmax is engine-stable
# at any magnitude (raw gains are ~s^2/n, far past the stable_round
# pass-through threshold — the round-10 lesson).


def q_ext_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    ).crossJoin(F.broadcast(tot))
    cand = pre.filter(F.col("__n1") < F.col("__n"))
    n1d = F.col("__n1").cast("double")
    n2d = (F.col("__n") - F.col("__n1")).cast("double")
    nd = F.col("__n").cast("double")
    s1d = F.col("__s1").cast("double")
    s2d = (F.col("__s") - F.col("__s1")).cast("double")
    sd = F.col("__s").cast("double")
    qd = F.col("__q").cast("double")
    gain = s1d * s1d / n1d + s2d * s2d / n2d - sd * sd / nd
    sse = qd - sd * sd / nd
    score = stable_round(gain / F.when(sse > 0, sse), 12)
    scored = cand.select(
        "day",
        "__n1",
        (F.col("__n") - F.col("__n1")).alias("__n2"),
        stable_round(s1d / n1d / F.lit(100.0), 6).alias("mean_left"),
        stable_round(s2d / n2d / F.lit(100.0), 6).alias("mean_right"),
        score.alias("var_explained"),
    )
    w_rank = Window.orderBy(
        F.col("var_explained").desc_nulls_last(), F.col("day")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("day").alias("split_day"),
            F.col("__n1").alias("n_left"),
            F.col("__n2").alias("n_right"),
            "mean_left",
            "mean_right",
            "var_explained",
        )
    )


def _binseg_oracle() -> str:
    s1d = exact_dec_double_sql("__s1")
    s2d = exact_dec_double_sql("(__s - __s1)")
    sd = exact_dec_double_sql("__s")
    qd = exact_dec_double_sql("__q")
    n1d = "CAST(__n1 AS DOUBLE)"
    n2d = "CAST(__n - __n1 AS DOUBLE)"
    nd = "CAST(__n AS DOUBLE)"
    gain = (
        f"({s1d} * {s1d} / {n1d} + {s2d} * {s2d} / {n2d}"
        f" - {sd} * {sd} / {nd})"
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
        SELECT day, __n1, __n - __n1 AS __n2,
               {stable_round_sql(f"({s1d} / {n1d} / 100.0)", 6)} AS mean_left,
               {stable_round_sql(f"({s2d} / {n2d} / 100.0)", 6)} AS mean_right,
               {score} AS var_explained
        FROM pre, tot
        WHERE __n1 < __n
    ), ranked AS (
        SELECT *, row_number() OVER (
            ORDER BY var_explained DESC NULLS LAST, day) AS rn
        FROM scored
    )
    SELECT day AS split_day, __n1 AS n_left, __n2 AS n_right,
           mean_left, mean_right, var_explained
    FROM ranked WHERE rn = 1
    """


register(
    "ext_binseg_changepoint", q_ext_binseg_changepoint, _binseg_oracle()
)


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau Q over the first 7 daily autocorrelations —
# the ext_acf scaled-deviation algebra (__d = n*c - total, exact), with
# each rho_k^2/(n-k) term in [0, 1] quantized at 12dp before the
# <= 7-row DECIMAL fold.

_LB_MAX_LAG = 7


def q_ext_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        "__n",
        (F.col("__n") * F.col("c") - F.col("__tot")).alias("__d"),
    )
    leads = d.select(
        "__n",
        "__d",
        *[
            F.lead("__d", lag).over(w_ord).alias(f"__d{lag}")
            for lag in range(1, _LB_MAX_LAG + 1)
        ],
    )
    stack_expr = ", ".join(
        f"{lag}, __d{lag}" for lag in range(1, _LB_MAX_LAG + 1)
    )
    long = leads.select(
        "__n",
        "__d",
        F.expr(f"stack({_LB_MAX_LAG}, {stack_expr}) AS (lag, __dl)"),
    )
    den = d.agg(
        F.sum(F.col("__d").cast("decimal(38,0)") * F.col("__d")).alias("__den"),
        F.max("__n").alias("n_days"),
    )
    num = (
        long.filter(F.col("__dl").isNotNull())
        .groupBy("lag")
        .agg(
            F.sum(F.col("__d").cast("decimal(38,0)") * F.col("__dl")).alias(
                "__num"
            )
        )
    )
    j = num.crossJoin(F.broadcast(den)).filter(
        (F.col("__den") > 0) & (F.col("lag") < F.col("n_days"))
    )
    rho = F.col("__num").cast("double") / F.col("__den").cast("double")
    term = stable_round(
        rho * rho / (F.col("n_days") - F.col("lag")).cast("double"), 12
    ).cast("decimal(18,12)")
    folded = j.groupBy().agg(
        F.max("n_days").alias("n_days"),
        F.max("lag").cast("int").alias("max_lag"),
        F.sum(term).alias("__fold"),
    )
    ndd = F.col("n_days").cast("double")
    q = ndd * (ndd + F.lit(2.0)) * F.col("__fold").cast("double")
    # Empty-input parity with the oracle's `WHERE n_days IS NOT NULL`:
    # a keyless groupBy().agg() over zero rows emits one all-NULL row,
    # which the oracle's outer filter drops — drop it here too so both
    # sides return zero rows on a constant or <=1-day series
    # (ADVICE r11 #1).
    return folded.filter(F.col("n_days").isNotNull()).select(
        "n_days", "max_lag", stable_round(q, 6).alias("q_stat")
    )


def _ljung_box_oracle() -> str:
    num_d = exact_dec_double_sql("__num")
    den_d = exact_dec_double_sql("__den")
    rho = f"({num_d} / {den_d})"
    term = stable_round_sql(
        f"({rho} * {rho} / CAST(n_days - lag AS DOUBLE))", 12
    )
    q = (
        "(CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0)"
        " * CAST(__fold AS DOUBLE))"
    )
    return f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    d AS (
        SELECT day,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS __n,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) * c
                 - (SELECT CAST(SUM(c) AS BIGINT) FROM daily) AS __d
        FROM daily
    ), leads AS (
        SELECT __n, __d, r.l AS lag,
               LEAD(__d, CAST(r.l AS INTEGER))
                   OVER (PARTITION BY r.l ORDER BY day) AS __dl
        FROM d, range(1, {_LB_MAX_LAG + 1}) r(l)
    ), den AS (
        SELECT SUM(CAST(__d AS DECIMAL(38,0)) * __d) AS __den,
               MAX(__n) AS n_days
        FROM d
    ), num AS (
        SELECT lag, SUM(CAST(__d AS DECIMAL(38,0)) * __dl) AS __num
        FROM leads WHERE __dl IS NOT NULL GROUP BY 1
    ), folded AS (
        SELECT MAX(n_days) AS n_days, CAST(MAX(lag) AS INTEGER) AS max_lag,
               SUM(CAST({term} AS DECIMAL(18,12))) AS __fold
        FROM num, den
        WHERE __den > 0 AND lag < n_days
    )
    SELECT n_days, max_lag, {stable_round_sql(q, 6)} AS q_stat
    FROM folded
    WHERE n_days IS NOT NULL
    """


register("ext_ljung_box", q_ext_ljung_box, _ljung_box_oracle())


# ---------------------------------------------------------------------------
# Top-10 session-opening paths: the first three event types of every
# 30-minute-gap session, by session share. One per-user window pass
# (sessionize's exact gap semantics), one conditional-min fold per
# session, one bounded top-k.


def q_ext_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_i = F.col("ts").cast("timestamp")
    gap_us = F.unix_micros(ts_i) - F.unix_micros(F.lag(ts_i, 1).over(w))
    flagged = ev.withColumn(
        "__new",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), F.lit(1))
        .otherwise(F.lit(0)),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.withColumn(
        "__sid", F.sum("__new").over(w_cum).cast("long")
    )
    w_s = Window.partitionBy("user_id", "__sid").orderBy("ts", "event_id")
    ranked = sess.withColumn("__rn", F.row_number().over(w_s)).filter(
        F.col("__rn") <= 3
    )
    heads = ranked.groupBy("user_id", "__sid").agg(
        *[
            F.max(
                F.when(F.col("__rn") == i, F.col("event_type"))
            ).alias(f"__e{i}")
            for i in (1, 2, 3)
        ]
    )
    paths = heads.select(
        F.concat_ws(">", "__e1", "__e2", "__e3").alias("path")
    ).groupBy("path").agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    tot = paths.agg(F.sum("n_sessions").cast("long").alias("__t"))
    w_rank = Window.orderBy(F.col("n_sessions").desc(), F.col("path"))
    return (
        paths.crossJoin(F.broadcast(tot))
        .withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") <= 10)
        .select(
            "path",
            "n_sessions",
            stable_round(
                F.col("n_sessions").cast("double")
                / F.col("__t").cast("double"),
                12,
            ).alias("share"),
        )
    )


def _session_paths_oracle() -> str:
    share = stable_round_sql(
        "(CAST(n_sessions AS DOUBLE) / CAST(__t AS DOUBLE))", 12
    )
    return f"""
    WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > 1800 * 1000000
                    THEN 1 ELSE 0 END AS nw
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS sid
        FROM flagged
    ), ranked AS (
        SELECT user_id, sid, event_type,
               row_number() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts, event_id) AS rn
        FROM sess
    ), heads AS (
        SELECT user_id, sid,
               MAX(CASE WHEN rn = 1 THEN event_type END) AS e1,
               MAX(CASE WHEN rn = 2 THEN event_type END) AS e2,
               MAX(CASE WHEN rn = 3 THEN event_type END) AS e3
        FROM ranked WHERE rn <= 3 GROUP BY 1, 2
    ), paths AS (
        SELECT concat_ws('>', e1, e2, e3) AS path,
               CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM heads GROUP BY 1
    ), tot AS (SELECT CAST(SUM(n_sessions) AS BIGINT) AS __t FROM paths),
    ranked2 AS (
        SELECT path, n_sessions, __t,
               row_number() OVER (ORDER BY n_sessions DESC, path) AS rn
        FROM paths, tot
    )
    SELECT path, n_sessions, {share} AS share
    FROM ranked2 WHERE rn <= 10
    """


register("ext_session_paths", q_ext_session_paths, _session_paths_oracle())
