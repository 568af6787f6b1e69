"""Round-10 batch 3: corpus-growth + experimentation analytics.

Four surfaces the engine still lacked, from two families:

**Corpus growth** (documents):

- ``ext_heaps_law``: Heaps'/Herdan's law fit (Heaps 1978) — vocabulary
  size V(N) ~ K * N^beta over ten doc-id prefix checkpoints. The
  checkpoints are a FIXED value grid over doc_id (block = floor(id *
  10 / (max_id + 1)) — map-only, no global sort), types-per-block is
  first-occurrence counting (min block per token, the ngram-novelty
  discipline), and the log-log OLS follows the ext_zipf_fit playbook:
  both logs stable-rounded at 6dp into exact DECIMAL BEFORE the moment
  sums, so the fit is bit-reproducible cross-engine (libm divergence
  class 1).

**Experimentation / growth accounting** (events, orders):

- ``ext_growth_accounting``: the DAU decomposition (new + retained +
  resurrected, plus churned-from-yesterday) from one distinct
  (user, day) frame and one per-user LAG/LEAD pass — the Social
  Capital growth-accounting identity dau = new + retained +
  resurrected, asserted in tests.
- ``ext_permutation_test``: randomization inference without
  randomness — B = 64 deterministic pseudo-permutations (portable
  md5-head hash of (doc_id, b) mod 2) of the en-vs-rest quality-score
  contrast; p = (1 + #{b : |stat_b| >= |stat_obs|}) / (B + 1)
  (add-one per Phipson & Smyth 2010). One corpus pass explodes b =
  0..63 (bounded 64x work, logged), folds to a 64-row frame; the
  test statistics are single IEEE divisions of exact DECIMAL score
  sums, quantized at 12dp before the cross-engine comparison.
- ``ext_cuped``: CUPED variance reduction (Deng, Xu, Kohavi & Walker,
  WSDM 2013) of per-customer post-period spend using pre-period spend
  as the covariate: theta = cov(X,Y)/var(X) and the variance-reduction
  factor rho^2, from exact cents moments (the corr-matrix moment
  shape), fixed IEEE tails, NULL-guarded denominators (class-8).

Scale shapes: heaps is two explode passes + a 10-row control plane;
growth accounting shuffles (user, day) pairs once for the distinct and
once for the window; the permutation test is ONE corpus pass widened
64x map-side (documented, bounded by B) into a 128-row fold; CUPED is
one per-customer groupBy + one moment fold. Money is exact cents;
scores are exact DECIMAL(18,6); every emitted double is a fixed IEEE
tail or quantized at the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.rounding import stable_round, stable_round_sql
from be_analytic_etl_spark.operators.textstats import tokenize
from be_analytic_etl_spark.queries_extensions import _t, _TOKS
from be_analytic_etl_spark.registry import register

_HEAPS_BLOCKS = 10


# ---------------------------------------------------------------------------
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
    # appear, or the growth-accounting identity undercounts churn
    # (ADVICE r10); activity counts coalesce to 0 on churn-only days.
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
# Deterministic permutation test: en-vs-rest quality-score contrast.

_PERM_B = 64


def _q6_score() -> F.Column:
    from be_analytic_etl_spark.queries_round9 import _q6

    return _q6()


def q_ext_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("__en"), _q6_score()
    ).localCheckpoint(eager=False)  # feeds the observed stat AND the B-fold

    def contrast(s1, n1, s0, n0):
        """|mean1 - mean0| as one fixed IEEE expression of exact decimal
        sums and bigint counts, NULL when either side is empty, 12dp."""
        return F.when(
            (n1 > 0) & (n0 > 0),
            stable_round(
                F.abs(
                    s1.cast("double") / n1.cast("double")
                    - s0.cast("double") / n0.cast("double")
                ),
                12,
            ),
        )

    obs = scored.agg(
        F.sum(F.when(F.col("__en") == 1, F.col("__q6"))).alias("__s1"),
        F.sum(F.when(F.col("__en") == 1, F.lit(1)).otherwise(0))
        .cast("long")
        .alias("__n1"),
        F.sum(F.when(F.col("__en") == 0, F.col("__q6"))).alias("__s0"),
        F.sum(F.when(F.col("__en") == 0, F.lit(1)).otherwise(0))
        .cast("long")
        .alias("__n0"),
    ).select(
        contrast(
            F.col("__s1"), F.col("__n1"), F.col("__s0"), F.col("__n0")
        ).alias("__obs"),
        (F.col("__n1") + F.col("__n0")).alias("n_docs"),
    )
    # b = 0..B-1 pseudo-permutations: portable md5-head hash of
    # (doc_id, b) mod 2 — the module-wide deterministic-hash playbook.
    side = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("|"),
                        F.col("__b").cast("string"),
                        F.lit("|perm"),
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    per_b = (
        scored.select(
            "doc_id", "__q6", F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1))).alias("__b")
        )
        .select("__b", "__q6", side.alias("__side"))
        .groupBy("__b")
        .agg(
            F.sum(F.when(F.col("__side") == 1, F.col("__q6"))).alias("__s1"),
            F.sum(F.when(F.col("__side") == 1, F.lit(1)).otherwise(0))
            .cast("long")
            .alias("__n1"),
            F.sum(F.when(F.col("__side") == 0, F.col("__q6"))).alias("__s0"),
            F.sum(F.when(F.col("__side") == 0, F.lit(1)).otherwise(0))
            .cast("long")
            .alias("__n0"),
        )
        .select(
            contrast(
                F.col("__s1"), F.col("__n1"), F.col("__s0"), F.col("__n0")
            ).alias("__stat")
        )
    )
    folded = per_b.crossJoin(F.broadcast(obs)).agg(
        F.max("n_docs").alias("n_docs"),
        F.max("__obs").alias("__obs"),
        F.count(F.lit(1)).cast("long").alias("n_perms"),
        # when/otherwise, not a bare boolean cast: a NULL comparison
        # (degenerate one-sided corpus) must count 0 in BOTH engines,
        # mirroring the oracle's CASE ... ELSE 0
        F.sum(
            F.when(F.col("__stat") >= F.col("__obs"), F.lit(1)).otherwise(0)
        ).cast("long").alias("n_ge"),
    )
    ok = F.col("__obs").isNotNull()
    p = (F.lit(1.0) + F.col("n_ge").cast("double")) / (
        F.col("n_perms").cast("double") + F.lit(1.0)
    )
    return folded.select(
        "n_docs",
        "n_perms",
        F.col("n_ge"),
        F.when(ok, stable_round(F.col("__obs"), 6)).alias("observed_diff"),
        F.when(ok, stable_round(p, 6)).alias("p_value"),
    )


def _perm_oracle() -> str:
    # local CTE: the shared _q6_cte() drops doc_id, which the
    # pseudo-permutation hash needs
    from be_analytic_etl_spark.functions.rounding import stable_round_sql as _srs
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

    q6_cte = (
        f"{qscore_feature_ctes('doc_id, lang')}, sq AS ("
        f" SELECT doc_id, lang,"
        f" CAST({_srs(_QSCORE_SQL, 6)} AS DECIMAL(18,6)) AS __q6"
        f" FROM m)"
    )

    def contrast(s1, n1, s0, n0):
        expr = (
            f"ABS(CAST({s1} AS DOUBLE) / CAST({n1} AS DOUBLE)"
            f" - CAST({s0} AS DOUBLE) / CAST({n0} AS DOUBLE))"
        )
        return (
            f"(CASE WHEN {n1} > 0 AND {n0} > 0 THEN "
            + stable_round_sql(expr, 12)
            + " END)"
        )

    side = (
        "(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'"
        " || CAST(__b AS VARCHAR) || '|perm'), 1, 15) AS BIGINT) % 2)"
    )
    p = (
        "((1.0 + CAST(n_ge AS DOUBLE))"
        " / (CAST(n_perms AS DOUBLE) + 1.0))"
    )
    return f"""
    WITH {q6_cte}, scored AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS __en, __q6
        FROM sq
    ),
    obs AS (
        SELECT {contrast(
            "SUM(CASE WHEN __en = 1 THEN __q6 END)",
            "SUM(CASE WHEN __en = 1 THEN 1 ELSE 0 END)",
            "SUM(CASE WHEN __en = 0 THEN __q6 END)",
            "SUM(CASE WHEN __en = 0 THEN 1 ELSE 0 END)",
        )} AS __obs,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM scored
    ),
    widened AS (
        SELECT doc_id, __q6, r.__b, {side} AS __side
        FROM scored, range(0, {_PERM_B}) r(__b)
    ),
    per_b AS (
        SELECT {contrast(
            "SUM(CASE WHEN __side = 1 THEN __q6 END)",
            "SUM(CASE WHEN __side = 1 THEN 1 ELSE 0 END)",
            "SUM(CASE WHEN __side = 0 THEN __q6 END)",
            "SUM(CASE WHEN __side = 0 THEN 1 ELSE 0 END)",
        )} AS __stat
        FROM widened GROUP BY __b
    ),
    folded AS (
        SELECT MAX(o.n_docs) AS n_docs,
               MAX(o.__obs) AS __obs,
               CAST(COUNT(*) AS BIGINT) AS n_perms,
               CAST(SUM(CASE WHEN __stat >= o.__obs THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ge
        FROM per_b, obs o
    )
    SELECT n_docs, n_perms, n_ge,
           CASE WHEN __obs IS NOT NULL
                THEN {stable_round_sql("__obs", 6)} END AS observed_diff,
           CASE WHEN __obs IS NOT NULL
                THEN {stable_round_sql(p, 6)} END AS p_value
    FROM folded
    """


register("ext_permutation_test", q_ext_permutation_test, _perm_oracle())


# ---------------------------------------------------------------------------
# CUPED: pre-period spend as the variance-reduction covariate.


def q_ext_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_custkey").isNotNull()
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    rng = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("__d0"),
        F.max(F.to_date("o_orderdate")).alias("__d1"),
    )
    # midpoint date splits pre/post periods (exact integer day arithmetic)
    mid = F.date_add(
        F.col("__d0"),
        (F.datediff(F.col("__d1"), F.col("__d0")) / F.lit(2)).cast("int"),
    )
    per = (
        orders.crossJoin(F.broadcast(rng))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.to_date("o_orderdate") <= mid, cents).otherwise(0))
            .cast("long")
            .alias("__x"),
            F.sum(F.when(F.to_date("o_orderdate") > mid, cents).otherwise(0))
            .cast("long")
            .alias("__y"),
        )
    )
    m = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("__y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("__x") * F.col("__y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("__x") * F.col("__x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("__y") * F.col("__y")).cast("decimal(38,0)")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov_n2 = nd * sxy - sx * sy  # n^2 * cov
    varx_n2 = nd * sxx - sx * sx
    vary_n2 = nd * syy - sy * sy
    # class-8 NULL-safe divides (constant pre-period spend -> var(X)=0)
    theta = cov_n2 / F.when(varx_n2 > 0, varx_n2)
    rho2 = (cov_n2 * cov_n2) / F.when(
        (varx_n2 > 0) & (vary_n2 > 0), varx_n2 * vary_n2
    )
    ok = (F.col("n") >= 2) & (varx_n2 > 0) & (vary_n2 > 0)
    return m.select(
        F.col("n").alias("n_customers"),
        F.when(ok, stable_round(theta, 6)).alias("cuped_theta"),
        F.when(ok, stable_round(rho2, 12)).alias("variance_reduction"),
    )


def _cuped_oracle() -> str:
    from be_analytic_etl_spark.functions.rounding import exact_dec_double_sql

    oc = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    nd = "CAST(n AS DOUBLE)"
    sx = exact_dec_double_sql("sx")
    sy = exact_dec_double_sql("sy")
    sxy = exact_dec_double_sql("sxy")
    sxx = exact_dec_double_sql("sxx")
    syy = exact_dec_double_sql("syy")
    cov = f"({nd} * {sxy} - {sx} * {sy})"
    varx = f"({nd} * {sxx} - {sx} * {sx})"
    vary = f"({nd} * {syy} - {sy} * {sy})"
    theta = f"({cov} / (CASE WHEN {varx} > 0 THEN {varx} END))"
    rho2 = (
        f"(({cov} * {cov}) / (CASE WHEN {varx} > 0 AND {vary} > 0"
        f" THEN {varx} * {vary} END))"
    )
    ok = f"n >= 2 AND {varx} > 0 AND {vary} > 0"
    return f"""
    WITH base AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, {oc} AS c
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL
    ),
    rng AS (
        SELECT MIN(d) AS __d0,
               MIN(d) + CAST(FLOOR((MAX(d) - MIN(d)) / 2.0) AS INTEGER)
                   AS __mid
        FROM base
    ),
    per AS (
        SELECT o_custkey,
               CAST(SUM(CASE WHEN d <= rng.__mid THEN c ELSE 0 END)
                    AS BIGINT) AS __x,
               CAST(SUM(CASE WHEN d > rng.__mid THEN c ELSE 0 END)
                    AS BIGINT) AS __y
        FROM base, rng GROUP BY o_custkey, rng.__mid
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(__x AS DECIMAL(38,0))) AS sx,
               SUM(CAST(__y AS DECIMAL(38,0))) AS sy,
               SUM(CAST(__x * __y AS DECIMAL(38,0))) AS sxy,
               SUM(CAST(__x * __x AS DECIMAL(38,0))) AS sxx,
               SUM(CAST(__y * __y AS DECIMAL(38,0))) AS syy
        FROM per
    )
    SELECT n AS n_customers,
           CASE WHEN {ok} THEN {stable_round_sql(theta, 6)} END
               AS cuped_theta,
           CASE WHEN {ok} THEN {stable_round_sql(rho2, 12)} END
               AS variance_reduction
    FROM m
    """


register("ext_cuped", q_ext_cuped, _cuped_oracle())
