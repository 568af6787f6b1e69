"""Round-10 batch 2: event-sequence analytics + corpus-vocabulary panel.

Rounds 5-10 built the statistics/monitoring stack; this batch adds the
EVENT-SEQUENCE analytics a product/behavioral pipeline runs on the same
events table, plus two corpus-quality surfaces training-data curation
still lacked:

- ``ext_funnel``: windowed ordered funnel (view -> click -> purchase
  within 7 days, strictly increasing timestamps per user) — the
  ClickHouse ``windowFunnel`` shape, expressed as three co-partitioned
  conditional-min aggregations on ``user_id`` (no sequence UDF, no
  per-user collect).
- ``ext_attribution``: last-touch revenue attribution — each purchase's
  cents credited to the user's most recent preceding non-purchase
  event type (``LAST ... IGNORE NULLS`` over rows-unbounded-preceding).
- ``ext_rfm_segments``: RFM segmentation of customers with EXACT
  type-1 quartile thresholds computed by the bounded-histogram rank
  trick (recency in calendar days, frequency in small ints, monetary
  quantized to whole dollars — all value-domain-bounded, so no global
  NTILE sort funnel at any corpus size).
- ``ext_chao1_vocab``: Chao1 lower-bound vocabulary-richness estimate
  (Chao 1984, bias-corrected form) + Good-Turing coverage (Good 1953)
  from the token frequency-of-frequencies — "how much vocabulary has
  this corpus NOT seen yet", the sampling-completeness companion to
  the Zipf/Heaps diagnostics.
(Candidates dropped at name-audit time, per the registry's
near-duplicate policy: a Markov transition matrix — already
``ext_markov_transitions``, round 6 — and a Gopher repetition audit —
already ``ext_repetition``, so only genuinely-new surfaces register.)

Scale shapes: funnel/attribution shuffle only (user_id, ts, type)
triples and fuse under AQE (the three funnel stages re-shuffle the
SAME user_id key, so co-partitioning carries through); RFM's
quartiles come from value-domain-bounded histograms (days / order
counts / whole dollars — corpus-independent cardinality), never a
global sort; chao1 collapses the corpus in one
explode+groupBy pass and folds on bounded frames. Money and
revenue accumulate as exact cents BIGINTs (the ``_daily_cents``
discipline); every cross-engine double is either a single fixed-order
IEEE expression or normalized into [0,1] and quantized at 12dp
(6dp where magnitude can grow with n — see SCALE.md divergence
classes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.rounding import stable_round, stable_round_sql
from be_analytic_etl_spark.operators.textstats import tokenize
from be_analytic_etl_spark.queries_extensions import _t, _TOKS
from be_analytic_etl_spark.registry import register

_CENTS_SQL = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _cents() -> F.Column:
    """Exact per-event cents (events.value is DOUBLE dollars; the
    DECIMAL(18,2) cast is the same correctly-rounded quantization both
    engines apply — the _daily_cents discipline, queries_round8.py).
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
