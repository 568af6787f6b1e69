"""Time-series and event-sequence queries: smoothing, gap fill, trend
and seasonality, autocorrelation, changepoints, isotonic trends,
survival, funnels, attribution, RFM, retention, growth accounting,
Markov transitions and session paths.

Scale shape: each query folds the events table once, either into the
calendar-bounded daily revenue frame (``_daily_cents``, exact cents) or
in one window or groupBy pass partitioned by user_id, and runs the
series algebra on that bounded frame. The pair joins over days
(Theil-Sen, Siegel, Mann-Kendall, the two-changepoint grid) are
deliberate bounded-broadcast shapes listed in plans/lint.py. Floats
follow the discipline described in statistics.py.
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
from be_analytic_etl_spark.queries._shared import _daily_cents, _DAILY_CENTS_SQL, _t
from be_analytic_etl_spark.registry import register


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
# Per-user EWMA of purchase values — the recurrence is an ordered fold per
# key (see operators/timeseries.py::ewma_last); the oracle replays the
# same left fold with list_reduce, bit-identically.
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.timeseries import ewma_last

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ewma_last(ev, "user_id", ["ts", "event_id"], "value", alpha=0.3)


def _ewma_oracle() -> str:
    from be_analytic_etl_spark.operators.timeseries import ewma_sql_twin

    return ewma_sql_twin(
        "(SELECT * FROM events WHERE event_type = 'purchase')",
        "user_id",
        ["ts", "event_id"],
        "value",
        alpha=0.3,
    )


register("ext_ewma", q_ewma, _ewma_oracle())


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


# ---------------------------------------------------------------------------
# ext_isotonic_trend: monotone-calibrated per-day value trend per event
# type — PAVA via grouped applyInPandas (the sequential-within-series /
# parallel-across-groups algorithm class SQL cannot express directly).
# Value-checked via the closed-form minimax identity: the
# query runs BOTH fits in Spark — O(n) PAVA (the production long-series
# path) and the O(n^3)-per-group minimax lattice (pure Column algebra,
# independently oracled as ext_isotonic_minimax) — joins them per
# (event_type, day) and emits the minimax-disciplined fit plus an
# ``agree`` flag (|pava - minimax| < 1e-9). Both compute the SAME
# mathematical solution (Robertson/Wright/Dykstra Thm 1.4.4), so any
# PAVA defect flips agree rows to false and the driver hash goes red;
# emitted doubles ride the decimal-exact minimax discipline rather than
# betting on a Python summation order being bit-identical to SQL.
# The DuckDB oracle replays the lattice and asserts agree = TRUE.

def q_ext_isotonic_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.regression import (
        isotonic_fit,
        isotonic_fit_minimax,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
        .cast("double")
        .alias("day"),
    ).agg(
        stable_round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        )
        .cast("decimal(18,6)")
        .alias("y6")
    )
    pava = isotonic_fit(
        daily.select("event_type", "day", F.col("y6").cast("double").alias("y")),
        "event_type",
        "day",
        "y",
    ).select("event_type", "day", F.col("y_iso").alias("__y_pava"))
    mm = isotonic_fit_minimax(daily, "event_type", "day", "y6")
    return mm.join(pava, ["event_type", "day"]).select(
        "event_type",
        "day",
        "y",
        "y_iso",
        (F.abs(F.col("y_iso") - F.col("__y_pava")) < F.lit(1e-9)).alias("agree"),
    )


def _isotonic_trend_oracle() -> str:
    # the minimax lattice (see _isotonic_minimax_oracle) + agree = TRUE:
    # the oracle's claim is precisely "PAVA equals the closed form".
    # Registered below ext_isotonic_minimax (its oracle body is shared).
    base = _isotonic_minimax_oracle()
    anchor = "SELECT p.event_type, p.day, CAST(p.y6 AS DOUBLE) AS y, f.y_iso"
    out = base.replace(anchor, anchor + ", TRUE AS agree")
    # a silent no-op replace would surface in the driver as a confusing
    # column-count mismatch far from the cause — fail loudly at import
    if out == base:
        raise AssertionError(
            "_isotonic_trend_oracle: anchor line not found in the minimax "
            "oracle — keep the two in lockstep"
        )
    return out


# ---------------------------------------------------------------------------
# ext_isotonic_minimax: the SAME monotone daily-trend fit as
# ext_isotonic_trend, via the closed-form minimax identity
# y_iso[i] = max_{j<=i} min_{k>=i} mean(y[j..k]) — pure Column algebra,
# so the one previously rows-only operator family gains a fully
# value-checked oracle twin. Daily means are stable_round-ed to
# DECIMAL(18,6) first; segment means are exact decimal prefix-sum
# differences cast to double + ONE IEEE division, so the min/max lattice
# replays bit-identically in DuckDB. PAVA (isotonic_fit) stays the O(n)
# production path for long series; this is the short-series/cross-check
# shape (n = ~30 days here).
def q_ext_isotonic_minimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.regression import isotonic_fit_minimax

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
        .cast("double")
        .alias("day"),
    ).agg(
        stable_round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        )
        .cast("decimal(18,6)")
        .alias("y6")
    )
    return isotonic_fit_minimax(daily, "event_type", "day", "y6")


def _isotonic_minimax_oracle() -> str:
    avg_sql = stable_round_sql(
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)", 6
    )
    return f"""
    WITH daily AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS DOUBLE) AS day,
               CAST({avg_sql} AS DECIMAL(18,6)) AS y6
        FROM events GROUP BY 1, 2
    ), pos AS (
        SELECT event_type, day, y6,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
               SUM(y6) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS s
        FROM daily
    ), seg AS (
        SELECT a.event_type, a.rn AS j, b.rn AS k,
               CAST(b.s - (a.s - a.y6) AS DOUBLE)
                   / CAST(b.rn - a.rn + 1 AS DOUBLE) AS m
        FROM pos a JOIN pos b
          ON a.event_type = b.event_type AND a.rn <= b.rn
    ), im AS (
        SELECT i.event_type, i.rn AS i, s.j, MIN(s.m) AS mn
        FROM pos i JOIN seg s
          ON s.event_type = i.event_type AND s.j <= i.rn AND s.k >= i.rn
        GROUP BY i.event_type, i.rn, s.j
    ), fit AS (
        SELECT event_type, i, MAX(mn) AS y_iso FROM im GROUP BY event_type, i
    )
    SELECT p.event_type, p.day, CAST(p.y6 AS DOUBLE) AS y, f.y_iso
    FROM pos p JOIN fit f ON p.event_type = f.event_type AND p.rn = f.i
    """


register(
    "ext_isotonic_minimax", q_ext_isotonic_minimax, _isotonic_minimax_oracle()
)


register("ext_isotonic_trend", q_ext_isotonic_trend, _isotonic_trend_oracle())


# ---------------------------------------------------------------------------
# ext_markov_transitions: first-order Markov transition matrix over
# per-user event sequences — the behavioral sequence model the
# funnel/sessionize/retention family doesn't capture.
#
# First-order Markov transition matrix over per-user event sequences —
# the behavioral sequence model (what follows what, with what
# probability) that funnel/sessionize/retention don't capture. LEAD
# over (user_id ORDER BY ts, event_id) pairs each event with its
# successor — the event_id tiebreak makes same-timestamp order
# deterministic, so the matrix replays exactly in any engine. ONE
# shuffle on user_id for the window (per-user state is the sequence
# length — bounded; a pathological hot user splits under AQE skew
# handling), then a tiny (|types|^2)-row count shuffle. Row-normalized
# probabilities are single IEEE divisions of exact counts (emitted
# raw, quality_percentile precedent).
def q_ext_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Untyped events are excluded BEFORE pairing on both sides: a NULL
    # src_type group would be dropped by Spark's equi-join on src_type
    # while the oracle's window SUM keeps its NULL partition — a
    # cross-engine NULL divergence. Filtering
    # first also means a NULL-typed event doesn't break a real A->B
    # adjacency, which is the semantics a transition matrix wants.
    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .filter(F.col("event_type").isNotNull())
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            F.col("event_type").alias("src_type"),
            F.lead("event_type").over(w).alias("dst_type"),
        )
        .filter(F.col("dst_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    tot = tr.groupBy("src_type").agg(
        F.sum("n_transitions").cast("long").alias("__row_total")
    )
    return tr.join(F.broadcast(tot), "src_type").select(
        "src_type",
        "dst_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.col("__row_total").cast("double")
        ).alias("prob"),
    )


register(
    "ext_markov_transitions",
    q_ext_markov_transitions,
    """
    WITH seq AS (
        SELECT event_type AS src_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
        FROM events WHERE event_type IS NOT NULL
    ), tr AS (
        SELECT src_type, dst_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM seq WHERE dst_type IS NOT NULL
        GROUP BY src_type, dst_type
    )
    SELECT src_type, dst_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
               / CAST(SUM(n_transitions) OVER (PARTITION BY src_type) AS DOUBLE)
               AS prob
    FROM tr
    """,
)


# ---------------------------------------------------------------------------
# ext_cusum_changepoint: Page's CUSUM (Biometrika 1954) over the daily
# revenue series — integer-exact single-changepoint location.
#
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


# ext_seasonal_decompose: additive trend/seasonal/remainder decomposition
# of the daily revenue series (classical decomposition; the composition of
# the Mann-Kendall/DOW pieces) on the calendar-bounded daily frame.
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
# ext_theil_sen: Theil-Sen robust trend slope (Theil 1950; Sen, JASA 1968)
# — the median of all pairwise daily slopes.
#
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


# ext_runs_test: Wald-Wolfowitz runs test (1940) of the daily revenue
# series around its exact median — randomness check that complements the
# Mann-Kendall monotone-trend read.
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


# ext_siegel_slopes: Siegel repeated-medians trend slope (Siegel,
# Biometrika 1982) of the daily revenue series — 50% breakdown point vs
# Theil-Sen's 29%.
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


_CENTS_SQL = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _cents() -> F.Column:
    """Exact per-event cents (events.value is DOUBLE dollars; the
    DECIMAL(18,2) cast is the same correctly-rounded quantization both
    engines apply — the _daily_cents discipline, queries/_shared.py).
    A function, not a module constant: Column construction needs an
    active session in PySpark 4's classic/connect dispatch."""
    return (F.col("value").cast("decimal(18,2)") * 100).cast("long")


# ---------------------------------------------------------------------------
# Windowed ordered funnel: view -> click -> purchase, each step strictly
# after the previous and within _FUNNEL_DAYS of the FIRST step. Three
# conditional-min aggregations, each shuffling on user_id only — the
# joins are all co-partitioned equi-joins on the same key, so AQE
# plans them as one exchange reused across stages. No sequence
# reconstruction, no per-user collect_list: at 100 TB each stage is a
# partial-agg min over (user, ts).

_FUNNEL_STEPS = ("view", "click", "purchase")


_FUNNEL_DAYS = 7


# ext_funnel: windowed ordered funnel (view -> click -> purchase within 7
# days, strictly increasing timestamps per user) — the ClickHouse
# ``windowFunnel`` shape, expressed as three co-partitioned
# conditional-min aggregations on ``user_id`` (no sequence UDF, no
# per-user collect).
def q_ext_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    return funnel_from_events(ev)


def funnel_from_events(ev: DataFrame) -> DataFrame:
    """The funnel fold over a (user_id, ts, event_type) frame: each step
    strictly after the previous one, all within the 7-day window
    anchored on the user's EARLIEST view."""
    s1 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        # s1 feeds BOTH the step-1 count and the step-2 join (and s2
        # likewise) — the lazy checkpoints keep each step's pruned
        # events scan to ONE read instead of recomputing the upstream
        # stage per consumer.
        .localCheckpoint(eager=False)
    )
    deadline = F.col("t1") + F.expr(f"INTERVAL {_FUNNEL_DAYS} DAYS")
    s2 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= deadline))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min(F.col("t1")).alias("t1"))
        .localCheckpoint(eager=False)
    )
    s3 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= deadline))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).cast("long").alias("step1_users"))
    n2 = s2.agg(F.count(F.lit(1)).cast("long").alias("step2_users"))
    n3 = s3.agg(F.count(F.lit(1)).cast("long").alias("step3_users"))
    j = n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n3))
    c1 = F.col("step1_users").cast("double")
    c2 = F.col("step2_users").cast("double")
    c3 = F.col("step3_users").cast("double")
    return j.select(
        "step1_users",
        "step2_users",
        "step3_users",
        F.when(F.col("step1_users") > 0, stable_round(c2 / c1, 12)).alias(
            "conv_step2"
        ),
        F.when(F.col("step2_users") > 0, stable_round(c3 / c2, 12)).alias(
            "conv_step3"
        ),
        F.when(F.col("step1_users") > 0, stable_round(c3 / c1, 12)).alias(
            "conv_total"
        ),
    )


def _funnel_oracle() -> str:
    return f"""
    WITH ev AS (
        SELECT user_id, ts, event_type FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM ev
        WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1
    ),
    s2 AS (
        SELECT ev.user_id, MIN(ev.ts) AS t2, MIN(s1.t1) AS t1
        FROM ev JOIN s1 USING (user_id)
        WHERE ev.event_type = '{_FUNNEL_STEPS[1]}'
          AND ev.ts > s1.t1 AND ev.ts <= s1.t1 + INTERVAL {_FUNNEL_DAYS} DAY
        GROUP BY 1
    ),
    s3 AS (
        SELECT ev.user_id, MIN(ev.ts) AS t3
        FROM ev JOIN s2 USING (user_id)
        WHERE ev.event_type = '{_FUNNEL_STEPS[2]}'
          AND ev.ts > s2.t2 AND ev.ts <= s2.t1 + INTERVAL {_FUNNEL_DAYS} DAY
        GROUP BY 1
    ),
    n AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS step1_users,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS step2_users,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS step3_users
    )
    SELECT step1_users, step2_users, step3_users,
           CASE WHEN step1_users > 0 THEN {stable_round_sql(
               "(CAST(step2_users AS DOUBLE) / CAST(step1_users AS DOUBLE))", 12)}
           END AS conv_step2,
           CASE WHEN step2_users > 0 THEN {stable_round_sql(
               "(CAST(step3_users AS DOUBLE) / CAST(step2_users AS DOUBLE))", 12)}
           END AS conv_step3,
           CASE WHEN step1_users > 0 THEN {stable_round_sql(
               "(CAST(step3_users AS DOUBLE) / CAST(step1_users AS DOUBLE))", 12)}
           END AS conv_total
    FROM n
    """


register("ext_funnel", q_ext_funnel, _funnel_oracle())


# ---------------------------------------------------------------------------
# ext_attribution: last-touch revenue attribution — each purchase's cents
# credited to the user's most recent preceding non-purchase event type
# (``LAST ... IGNORE NULLS`` over rows-unbounded-preceding).
#
# Last-touch attribution: each purchase's exact cents credited to the
# user's most recent PRECEDING non-purchase event type. One window pass
# per user (rows unbounded-preceding to 1-preceding, LAST ... IGNORE
# NULLS), then a <= |types|-row groupBy; the revenue share is a single
# division against the broadcast 1-row total. Purchases with no
# preceding touch are reported under the '(none)' channel, so the
# output reconciles to total purchase revenue.


def q_ext_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    per = (
        ev.withColumn("channel", touch)
        .filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .groupBy(F.coalesce(F.col("channel"), F.lit("(none)")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("purchases"),
            F.sum(_cents()).cast("long").alias("revenue_cents"),
        )
    )
    tot = per.agg(F.sum("revenue_cents").cast("long").alias("__tot"))
    return per.crossJoin(F.broadcast(tot)).select(
        "channel",
        "purchases",
        "revenue_cents",
        F.when(
            F.col("__tot") > 0,
            stable_round(
                F.col("revenue_cents").cast("double")
                / F.col("__tot").cast("double"),
                12,
            ),
        ).alias("revenue_share"),
    )


def _attribution_oracle() -> str:
    share = stable_round_sql(
        "(CAST(revenue_cents AS DOUBLE) / CAST(__tot AS DOUBLE))", 12
    )
    return f"""
    WITH ev AS (
        SELECT user_id, ts, event_id, event_type, value,
               LAST_VALUE(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS channel
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    per AS (
        SELECT COALESCE(channel, '(none)') AS channel,
               CAST(COUNT(*) AS BIGINT) AS purchases,
               CAST(SUM({_CENTS_SQL}) AS BIGINT) AS revenue_cents
        FROM ev WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(revenue_cents) AS BIGINT) AS __tot FROM per)
    SELECT channel, purchases, revenue_cents,
           CASE WHEN __tot > 0 THEN {share} END AS revenue_share
    FROM per, t
    """


register("ext_attribution", q_ext_attribution, _attribution_oracle())


# ---------------------------------------------------------------------------
# RFM segmentation with EXACT quartile thresholds from value-domain-
# bounded histograms. Recency lives in calendar days, frequency in
# small order counts, and monetary is quantized to whole DOLLARS for
# the threshold histogram (the price domain is bounded, so the
# histogram cardinality is corpus-independent — the reason this runs
# with no global NTILE sort at any scale; per-segment revenue still
# accumulates exact CENTS). Threshold = type-1 quartile: the smallest
# value whose cumulative count reaches ceil(k*n/4), i.e. 4*cum >= k*n
# in exact integers. score = 1 + #(thresholds strictly below value),
# so scores are 1..4 with ties sharing a bucket (rank-function
# semantics, deterministic in both engines).


def _quartiles(per: DataFrame, col: str) -> DataFrame:
    """1-row frame (q1, q2, q3) of exact type-1 quartiles of ``per[col]``."""
    g = per.groupBy(F.col(col).alias("__v")).agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    wv = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "__v", F.sum("__c").over(wv).cast("long").alias("__cum")
    )
    tot = per.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    j = cum.crossJoin(F.broadcast(tot))
    return j.agg(
        F.min(F.when(F.col("__cum") * 4 >= F.col("__n"), F.col("__v"))).alias(f"{col}_q1"),
        F.min(F.when(F.col("__cum") * 4 >= 2 * F.col("__n"), F.col("__v"))).alias(f"{col}_q2"),
        F.min(F.when(F.col("__cum") * 4 >= 3 * F.col("__n"), F.col("__v"))).alias(f"{col}_q3"),
    )


def _score(col: str) -> F.Column:
    return (
        F.lit(1)
        + (F.col(col) > F.col(f"{col}_q1")).cast("int")
        + (F.col(col) > F.col(f"{col}_q2")).cast("int")
        + (F.col(col) > F.col(f"{col}_q3")).cast("int")
    ).alias(f"{col}_score")


# ext_rfm_segments: RFM segmentation of customers with EXACT type-1
# quartile thresholds computed by the bounded-histogram rank trick
# (recency in calendar days, frequency in small ints, monetary quantized
# to whole dollars — all value-domain-bounded, so no global NTILE sort
# funnel at any corpus size).
def q_ext_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_custkey").isNotNull()
    )
    ocents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    maxd = orders.agg(F.max(F.to_date("o_orderdate")).alias("__dmax"))
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("__last"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(ocents).cast("long").alias("__cents"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff(F.col("__dmax"), F.col("__last"))
            .cast("long")
            .alias("recency"),
            "frequency",
            "__cents",
            (F.col("__cents") - (F.col("__cents") % 100))
            .cast("long")
            .alias("monetary"),  # whole dollars x 100: floor to dollar grid
        )
        .localCheckpoint(eager=False)  # feeds 3 histograms + the scoring join
    )
    thr = (
        _quartiles(per, "recency")
        .crossJoin(F.broadcast(_quartiles(per, "frequency")))
        .crossJoin(F.broadcast(_quartiles(per, "monetary")))
    )
    scored = per.crossJoin(F.broadcast(thr)).select(
        "o_custkey",
        "__cents",
        _score("recency"),
        _score("frequency"),
        _score("monetary"),
    )
    seg = scored.groupBy("recency_score", "frequency_score", "monetary_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("__cents").cast("long").alias("revenue_cents"),
    )
    avg = F.col("revenue_cents").cast("double") / F.col("n_customers").cast("double")
    return seg.select(
        "recency_score",
        "frequency_score",
        "monetary_score",
        "n_customers",
        "revenue_cents",
        stable_round(avg, 6).alias("avg_revenue_cents"),
    )


def _rfm_oracle() -> str:
    oc = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

    def qsql(col: str) -> str:
        return f"""
    {col}_g AS (
        SELECT {col} AS __v, CAST(COUNT(*) AS BIGINT) AS __c FROM per GROUP BY 1
    ),
    {col}_cum AS (
        SELECT __v, CAST(SUM(__c) OVER (ORDER BY __v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS __cum
        FROM {col}_g
    ),
    {col}_thr AS (
        SELECT MIN(CASE WHEN __cum * 4 >= n.__n THEN __v END) AS {col}_q1,
               MIN(CASE WHEN __cum * 4 >= 2 * n.__n THEN __v END) AS {col}_q2,
               MIN(CASE WHEN __cum * 4 >= 3 * n.__n THEN __v END) AS {col}_q3
        FROM {col}_cum, n
    )"""

    def score(col: str) -> str:
        return (
            f"(1 + CASE WHEN {col} > {col}_q1 THEN 1 ELSE 0 END"
            f" + CASE WHEN {col} > {col}_q2 THEN 1 ELSE 0 END"
            f" + CASE WHEN {col} > {col}_q3 THEN 1 ELSE 0 END)"
        )

    avg = stable_round_sql(
        "(CAST(revenue_cents AS DOUBLE) / CAST(n_customers AS DOUBLE))", 6
    )
    return f"""
    WITH base AS (
        SELECT * FROM orders
        WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL
    ),
    d AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS __dmax FROM base),
    per AS (
        SELECT o_custkey,
               CAST(datediff('day', MAX(CAST(o_orderdate AS DATE)), d.__dmax)
                    AS BIGINT) AS recency,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM({oc}) AS BIGINT) AS __cents,
               CAST(SUM({oc}) - (SUM({oc}) % 100) AS BIGINT) AS monetary
        FROM base, d GROUP BY o_custkey, d.__dmax
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS __n FROM per),
    {qsql("recency")},
    {qsql("frequency")},
    {qsql("monetary")},
    scored AS (
        SELECT {score("recency")} AS recency_score,
               {score("frequency")} AS frequency_score,
               {score("monetary")} AS monetary_score,
               __cents
        FROM per, recency_thr, frequency_thr, monetary_thr
    ),
    seg AS (
        SELECT recency_score, frequency_score, monetary_score,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(__cents) AS BIGINT) AS revenue_cents
        FROM scored GROUP BY 1, 2, 3
    )
    SELECT recency_score, frequency_score, monetary_score, n_customers,
           revenue_cents, {avg} AS avg_revenue_cents
    FROM seg
    """


register("ext_rfm_segments", q_ext_rfm_segments, _rfm_oracle())


# ---------------------------------------------------------------------------
# ext_growth_accounting: the DAU decomposition (new + retained +
# resurrected, plus churned-from-yesterday) from one distinct (user, day)
# frame and one per-user LAG/LEAD pass — the Social Capital
# growth-accounting identity dau = new + retained + resurrected, asserted
# in tests.
#
# Growth accounting: dau = new + retained + resurrected, churned from
# yesterday. One distinct (user, day) frame, one per-user LAG/LEAD pass.


def q_ext_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    ud = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds the window AND the churn join
    )
    return growth_accounting_from_ud(ud)


def growth_accounting_from_ud(ud: DataFrame) -> DataFrame:
    """The DAU-decomposition fold over a distinct (user_id, day) frame,
    which the registered query derives from the events."""
    w = Window.partitionBy("user_id").orderBy("day")
    lagged = ud.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("__prev"),
        F.lead("day").over(w).alias("__next"),
    )
    daily = lagged.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau"),
        F.sum(F.col("__prev").isNull().cast("long"))
        .cast("long")
        .alias("new_users"),
        # when/otherwise: a NULL __prev (all-new day) must sum to 0,
        # not NULL, mirroring the oracle's CASE ... ELSE 0
        F.sum(
            F.when(F.datediff(F.col("day"), F.col("__prev")) == 1, F.lit(1))
            .otherwise(0)
        )
        .cast("long")
        .alias("retained"),
        F.sum(
            F.when(F.datediff(F.col("day"), F.col("__prev")) > 1, F.lit(1))
            .otherwise(0)
        )
        .cast("long")
        .alias("resurrected"),
    )
    churn = (
        lagged.filter(
            F.col("__next").isNull()
            | (F.datediff(F.col("__next"), F.col("day")) > 1)
        )
        .groupBy(F.date_add(F.col("day"), 1).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("churned"))
    )
    # FULL outer: churn attributed to a day with zero activity (a quiet
    # gap day, or the day after the corpus's last active day) must still
    # appear, or the growth-accounting identity undercounts churn;
    # activity counts coalesce to 0 on churn-only days.
    return daily.join(churn, "day", "full").select(
        "day",
        F.coalesce(F.col("dau"), F.lit(0)).cast("long").alias("dau"),
        F.coalesce(F.col("new_users"), F.lit(0)).cast("long").alias("new_users"),
        F.coalesce(F.col("retained"), F.lit(0)).cast("long").alias("retained"),
        F.coalesce(F.col("resurrected"), F.lit(0)).cast("long").alias("resurrected"),
        F.coalesce(F.col("churned"), F.lit(0)).cast("long").alias("churned"),
    )


def _growth_oracle() -> str:
    return """
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    lagged AS (
        SELECT user_id, day,
               LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS __prev,
               LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS __next
        FROM ud
    ),
    daily AS (
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS dau,
               CAST(SUM(CASE WHEN __prev IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS new_users,
               CAST(SUM(CASE WHEN day - __prev = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS retained,
               CAST(SUM(CASE WHEN day - __prev > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS resurrected
        FROM lagged GROUP BY 1
    ),
    churn AS (
        SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS churned
        FROM lagged
        WHERE __next IS NULL OR __next - day > 1
        GROUP BY 1
    )
    SELECT COALESCE(d.day, c.day) AS day,
           CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau,
           CAST(COALESCE(d.new_users, 0) AS BIGINT) AS new_users,
           CAST(COALESCE(d.retained, 0) AS BIGINT) AS retained,
           CAST(COALESCE(d.resurrected, 0) AS BIGINT) AS resurrected,
           CAST(COALESCE(c.churned, 0) AS BIGINT) AS churned
    FROM daily d FULL OUTER JOIN churn c ON d.day = c.day
    """


register("ext_growth_accounting", q_ext_growth_accounting, _growth_oracle())


# ---------------------------------------------------------------------------
# ext_survival_curve: Kaplan-Meier-style survival panel of user LIFETIMES
# (first->last active day, right-censored at the corpus horizon): per
# distinct duration the at-risk count, event/censor counts, the KM step
# factor (n-d)/n (Kaplan & Meier, JASA 1958) and the Nelson-Aalen
# cumulative hazard (Nelson 1972; Aalen 1978) — chosen over the
# log-survival form because d/n terms need no libm at all (the class-6
# discipline by construction).
#
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
# ext_inter_arrival: per-user inter-event gap distribution on a log2 grid
# (bit-length buckets — the HLL rank trick, no log2 call) plus the
# exponential-renewal MLE rate; the arrival-process companion to
# ``ext_burstiness``.
#
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
# ext_binseg_changepoint: best single binary-segmentation split of the
# daily revenue series (Scott & Knott 1974; the one-step CART/ binseg
# move): the day maximizing explained variance, from exact prefix sums
# over the calendar-bounded daily frame — the LOCATION estimator beside
# ``ext_cusum_changepoint``'s drift detector.
#
# Binary-segmentation changepoint: the split day maximizing explained
# variance. Prefix sums over the calendar-bounded daily frame give every
# candidate's gain exactly; the score is NORMALIZED (gain / total SSE,
# in [0, 1]) before the 12dp quantization so the argmax is engine-stable
# at any magnitude (raw gains are ~s^2/n, far past the stable_round
# pass-through threshold).


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


# ext_ljung_box: Ljung-Box portmanteau Q over the first 7 daily- revenue
# autocorrelations (Ljung & Box, Biometrika 1978) — the "is there ANY
# serial dependence" omnibus on top of ``ext_acf``'s per-lag readout,
# sharing its exact scaled-deviation algebra.
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
    # sides return zero rows on a constant or <=1-day series.
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
# ext_session_paths: top-10 session-opening event-type paths (first three
# events per 30-minute-gap session) with traffic share — the navigational
# readout on top of ``sessionize``'s session frame.
#
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


# ---------------------------------------------------------------------------
# PACF at lags 1..7 via the Durbin-Levinson recursion over ext_acf's
# autocorrelations. phi_{k,k} (the PACF at lag k) and the helper
# phi_{k,j} columns are generated as expression TEXT shared verbatim by
# both engines: identical parse trees -> identical IEEE evaluation ->
# value-hash equality (the recursion itself adds no quantization beyond
# the 6dp-rounded ACF inputs it starts from). A constant
# series (den = 0) or a short series (missing high lags) yields NULL
# rho's, and NULL propagates identically through both engines'
# arithmetic, so all 7 lag rows always appear with NULL acf/pacf where
# undetermined.

_PACF_MAX_LAG = 7


def _dl_levels(max_lag: int) -> list[list[str]]:
    """Durbin-Levinson level definitions (SQL expression text).

    Each inner list is one dependency layer: phi_{k,k} first (it reads
    only level k-1 columns), then the phi_{k,j} updates (they read
    phi_{k,k}) — mapping to one selectExpr / CTE per layer so no
    expression ever references a sibling defined in the same layer.
    """
    levels: list[list[str]] = [["rho1 AS phi1_1"]]
    for k in range(2, max_lag + 1):
        num = " + ".join(f"phi{k - 1}_{j} * rho{k - j}" for j in range(1, k))
        den = " + ".join(f"phi{k - 1}_{j} * rho{j}" for j in range(1, k))
        levels.append(
            [f"((rho{k}) - ({num})) / ((1e0) - ({den})) AS phi{k}_{k}"]
        )
        if k < max_lag:
            levels.append(
                [
                    f"phi{k - 1}_{j} - phi{k}_{k} * phi{k - 1}_{k - j}"
                    f" AS phi{k}_{j}"
                    for j in range(1, k)
                ]
            )
    return levels


# ext_pacf: partial autocorrelation of the daily revenue series at lags
# 1..7, the Durbin-Levinson recursion unrolled over ``ext_acf``'s
# exactly-computed autocorrelations. The recursion's expression TEXT is
# generated once and fed verbatim to both engines (Spark ``selectExpr`` /
# DuckDB chained CTEs), so the IEEE arithmetic is structurally identical
# by construction.
def q_ext_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    acf = q_ext_acf(spark, sf_dir)
    one = acf.groupBy().agg(
        *[
            F.max(
                F.when(F.col("lag") == l, F.col("acf"))
            ).alias(f"rho{l}")
            for l in range(1, _PACF_MAX_LAG + 1)
        ]
    )
    for defs in _dl_levels(_PACF_MAX_LAG):
        one = one.selectExpr("*", *defs)
    stack = ", ".join(
        f"{l}, rho{l}, phi{l}_{l}" for l in range(1, _PACF_MAX_LAG + 1)
    )
    long = one.selectExpr(
        f"stack({_PACF_MAX_LAG}, {stack}) AS (lag, __acf, __pacf)"
    )
    return long.select(
        F.col("lag").cast("int").alias("lag"),
        stable_round(F.col("__acf"), 6).alias("acf"),
        stable_round(F.col("__pacf"), 6).alias("pacf"),
    )


def _pacf_oracle() -> str:
    pivots = ", ".join(
        f"MAX(CASE WHEN lag = {l} THEN acf END) AS rho{l}"
        for l in range(1, _PACF_MAX_LAG + 1)
    )
    ctes = [f"acfq AS (SELECT * FROM ({_acf_oracle()}) __a)",
            f"p0 AS (SELECT {pivots} FROM acfq)"]
    prev = "p0"
    for i, defs in enumerate(_dl_levels(_PACF_MAX_LAG)):
        name = f"l{i + 1}"
        ctes.append(f"{name} AS (SELECT *, {', '.join(defs)} FROM {prev})")
        prev = name
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({l} AS INTEGER) AS lag, "
        f"{stable_round_sql(f'rho{l}', 6)} AS acf, "
        f"{stable_round_sql(f'phi{l}_{l}', 6)} AS pacf FROM {prev}"
        for l in range(1, _PACF_MAX_LAG + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + rows


register("ext_pacf", q_ext_pacf, _pacf_oracle())


# ---------------------------------------------------------------------------
# binseg2_changepoint: best TWO-changepoint (3-segment) split of the daily
# revenue series by exact SSE gain — the second level of
# ``ext_binseg_changepoint``'s recursion, done exhaustively on the
# calendar-bounded (t1 < t2) prefix-pair grid (the Mann-Kendall
# bounded-BNL precedent: D^2/2 control-plane pairs, corpus-independent).
#
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


register("binseg2_changepoint", binseg2_changepoint, binseg2_changepoint_oracle())
