"""Statistics queries: hypothesis tests, effect sizes, distribution
distances, classifier and ranking evaluation, and the mergeable
sketches (count-min, k-mins, HLL, t-digest, heavy hitters).

Scale shape: each query collapses the corpus in one partial-aggregated
groupBy into a value-domain-bounded histogram or contingency frame; the
rank, CDF and pair work then runs on that bounded frame, never on a
corpus-wide sort. The bounded pair joins are listed in
plans/lint.py BNL_ALLOWLIST.

Float discipline (SCALE.md divergence classes): counts and sums
accumulate as exact BIGINT/DECIMAL; libm terms pass stable_round before
any sum or decimal cast; a per-group double term that feeds a
cross-group fold is first normalized into [0, 1] and quantized at 12dp
(6dp where its magnitude grows with n); sqrt and division tails are
single fixed-order IEEE expressions mirrored verbatim in the oracle;
constants that would need libm inside the engines are quantized on the
host and embedded as identical literals; divisions are guarded at the
division itself; decimal products narrow their operands first.
"""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.ranks import middle_ranks
from be_analytic_etl_spark.functions.rounding import (
    exact_dec_double_sql,
    stable_round,
    stable_round_sql,
)
from be_analytic_etl_spark.operators import textstats as T
from be_analytic_etl_spark.operators.profiling import group_zscore_outliers
from be_analytic_etl_spark.operators.similarity import PROBE_WHERE_SQL
from be_analytic_etl_spark.queries._shared import (
    _bucket_sql,
    _daily_cents,
    _DAILY_CENTS_SQL,
    _dot_sql,
    _QSCORE_SQL,
    _t,
    _TOKS,
    qscore_feature_ctes,
)
from be_analytic_etl_spark.registry import register


# ---------------------------------------------------------------------------
# Count-min heavy hitters (operators/sketches.py): per-user event-count
# estimates from a 4x64 sketch, joined to exact counts — the overcount
# (collision) error is visible, and every counter is reproduced exactly by
# the generated DuckDB twin.
def q_ext_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sketches import countmin_estimates

    ev = _t(spark, sf_dir, "events")
    sketch = countmin_estimates(ev, "user_id", d=4, w=64)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return sketch.join(exact, "user_id")


def _countmin_oracle() -> str:
    from be_analytic_etl_spark.operators.sketches import countmin_sql_twin

    twin = countmin_sql_twin("events", "user_id", d=4, w=64)
    return f"""
    WITH sketch AS ({twin}),
    exact AS (SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id)
    SELECT e.user_id, s.cms_estimate, e.exact_count
    FROM sketch s JOIN exact e ON s.v = e.user_id
    """


register("ext_countmin", q_ext_countmin, _countmin_oracle())


# ---------------------------------------------------------------------------
# Histogram-quantile sketch (operators/profiling.py): per-event-type
# p50/p90/p99 from a 64-bin fixed histogram — the mergeable, no-global-sort
# alternative to exact percentile(); every arithmetic step (bin function,
# ceil-rank rule, lower-edge estimate) is replayed identically by the SQL
# twin, so unlike t-digest/GK internals the sketch is value-checkable.
_HQ_BINS = 64


_HQ_QS = (0.5, 0.9, 0.99)


def q_ext_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.profiling import histogram_quantiles

    ev = _t(spark, sf_dir, "events")
    return histogram_quantiles(
        ev, "value", group_cols=["event_type"], bins=_HQ_BINS, quantiles=_HQ_QS
    )


def _hq_oracle() -> str:
    per_q = []
    for q in _HQ_QS:
        per_q.append(
            f"""
    SELECT event_type, CAST({q} AS DOUBLE) AS q,
           CASE WHEN mx = mn THEN mn
                ELSE mn + qbin * (mx - mn) / {_HQ_BINS} END AS quantile_est,
           n
    FROM (
        SELECT event_type, mn, mx, n, MIN(bin) AS qbin
        FROM cum WHERE cumc >= CEIL({q} * n)
        GROUP BY event_type, mn, mx, n)
    """
        )
    union = " UNION ALL ".join(per_q)
    return f"""
    WITH stats AS (
        SELECT event_type, MIN(CAST(value AS DOUBLE)) AS mn,
               MAX(CAST(value AS DOUBLE)) AS mx, COUNT(value) AS n
        FROM events GROUP BY event_type
    ), binned AS (
        SELECT e.event_type, s.mn, s.mx, s.n,
               CASE WHEN s.mx = s.mn THEN 0
                    ELSE LEAST({_HQ_BINS - 1},
                         CAST(FLOOR(((CAST(e.value AS DOUBLE) - s.mn)
                                     / (s.mx - s.mn)) * {_HQ_BINS}) AS INTEGER))
               END AS bin
        -- IS NOT DISTINCT FROM: a NULL group key is a real group
        FROM events e JOIN stats s
          ON e.event_type IS NOT DISTINCT FROM s.event_type
        WHERE e.value IS NOT NULL
    ), counts AS (
        SELECT event_type, mn, mx, n, bin, COUNT(*) AS bc
        FROM binned GROUP BY event_type, mn, mx, n, bin
    ), cum AS (
        SELECT event_type, mn, mx, n, bin,
               SUM(bc) OVER (PARTITION BY event_type ORDER BY bin) AS cumc
        FROM counts
    )
    {union}
    """


register("ext_histogram_quantiles", q_ext_histogram_quantiles, _hq_oracle())


# ---------------------------------------------------------------------------
# Per-group z-score outlier census on lineitem prices. Exact decimal
# SUM/SUM(x²), then a fixed double sequence for mean/variance/threshold —
# the oracle replays the identical expression tree.
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return group_zscore_outliers(
        li, ["l_returnflag", "l_linestatus"], "l_extendedprice", z=2.0
    )


_sr_mean = stable_round_sql("MIN(d.mean_value)", 4)


_sr_var = stable_round_sql("MIN(d.variance)", 2)


register(
    "ext_zscore_outliers",
    q_zscore_outliers,
    f"""
    WITH stats AS (
        SELECT l_returnflag, l_linestatus,
               COUNT(l_extendedprice) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
                   AS s1,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice
                             AS DECIMAL(38,4))) AS DOUBLE) AS s2
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    ),
    derived AS (
        SELECT l_returnflag, l_linestatus, n,
               s1 / n AS mean_value,
               (s2 - s1 * s1 / n) / NULLIF(n - 1, 0) AS variance
        FROM stats
    )
    SELECT d.l_returnflag, d.l_linestatus,
           MIN(d.n) AS n,
           -- Emit rounded stats: the raw doubles carry engine-specific
           -- last-ulp noise from the >2^53 decimal->double cast amplified
           -- by the s2 - s1^2/n cancellation (driver-red round 4). The
           -- floor-formula, not ROUND (engines' ROUND primitives disagree
           -- on shortest-repr half-ties — functions/rounding.py). The
           -- outlier threshold below still uses full precision.
           {_sr_mean} AS mean_value,
           {_sr_var} AS variance,
           -- CAST: DuckDB SUM(int) is HUGEINT; Spark's is BIGINT.
           CAST(SUM(CASE WHEN (l.l_extendedprice - d.mean_value)
                         * (l.l_extendedprice - d.mean_value)
                        > 4.0 * d.variance THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM lineitem l
    JOIN derived d USING (l_returnflag, l_linestatus)
    GROUP BY d.l_returnflag, d.l_linestatus
    """,
)


# ---------------------------------------------------------------------------
# Pairwise Pearson correlation matrix over the fact table's numeric
# columns — the feature-stats pass of a profiling pipeline. Built-in
# F.corr/DuckDB corr() accumulate doubles in engine-specific orders (not
# cross-checkable); instead each column is quantized exactly (x100 — all
# four have <= 2 decimal places; Pearson r is invariant to linear
# scaling), the moments (n, Σx, Σx², Σxy) accumulate as integers in
# DECIMAL(38,0) (exact, merge-order-free) in ONE partial-aggregated pass,
# and the textbook formula runs as a fixed double-op sequence replayed
# verbatim in the oracle. Scale: one scan, one single-row aggregate — the
# matrix itself is |cols|²-sized control-plane data.
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
]


def q_ext_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # correlations are over JOINTLY FINITE rows: a NaN/Infinity in any
    # measure (NaN-poisoned batch) would overflow the ANSI cents cast —
    # and n must count the same rows the moments saw (oracle twin:
    # isfinite() conjunction in WHERE)
    finite = None
    for c in _CORR_COLS:
        cond = ~F.isnan(F.col(c)) & (F.abs(F.col(c)) < F.lit(float("inf")))
        finite = cond if finite is None else (finite & cond)
    li = li.filter(finite)

    def qz(c: str) -> F.Column:
        return F.round(F.col(c) * 100).cast("bigint")

    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(qz(c).cast("decimal(38,0)")).alias(f"s_{c}"))
        aggs.append(
            F.sum((qz(c) * qz(c)).cast("decimal(38,0)")).alias(f"s2_{c}_{c}")
        )
    for a, b in _CORR_PAIRS:
        aggs.append(
            F.sum((qz(a) * qz(b)).cast("decimal(38,0)")).alias(f"s2_{a}_{b}")
        )
    m = li.agg(*aggs)

    def corr_expr(a: str, b: str) -> F.Column:
        nd = F.col("n").cast("double")
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        sab = F.col(f"s2_{a}_{b}").cast("double")
        saa = F.col(f"s2_{a}_{a}").cast("double")
        sbb = F.col(f"s2_{b}_{b}").cast("double")
        # Degenerate guard (ANSI double DIVIDE_BY_ZERO on a 1-row /
        # constant-column corpus: zero variance makes the denominator
        # sqrt(0)): correlation is undefined there — emit NULL.
        return F.when(
            (nd * saa - sa * sa > 0) & (nd * sbb - sb * sb > 0),
            (nd * sab - sa * sb)
            / (F.sqrt(nd * saa - sa * sa) * F.sqrt(nd * sbb - sb * sb)),
        )

    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    corr_expr(a, b).alias("corr"),
                )
                for a, b in _CORR_PAIRS
            ]
        )
    ).alias("r")
    return m.select(rows).select("r.col_a", "r.col_b", "r.corr")


def _corr_matrix_oracle() -> str:
    def qz(c: str) -> str:
        return f"CAST(round({c} * 100) AS BIGINT)"

    moments = ["COUNT(*) AS n"]
    for c in _CORR_COLS:
        moments.append(f"SUM(CAST({qz(c)} AS DECIMAL(38,0))) AS s_{c}")
        moments.append(
            f"SUM(CAST({qz(c)} * {qz(c)} AS DECIMAL(38,0))) AS s2_{c}_{c}"
        )
    for a, b in _CORR_PAIRS:
        moments.append(
            f"SUM(CAST({qz(a)} * {qz(b)} AS DECIMAL(38,0))) AS s2_{a}_{b}"
        )
    # Moments exceed 2^53 from sf0.1 up, where DuckDB's direct
    # DECIMAL->DOUBLE cast mis-rounds by an ulp (exact_dec_double_sql
    # docstring has the live example from this very query); the VARCHAR
    # route keeps both engines correctly rounded at every magnitude.
    from be_analytic_etl_spark.functions.rounding import exact_dec_double_sql

    def dd(name: str) -> str:
        return exact_dec_double_sql(name)

    branches = []
    for a, b in _CORR_PAIRS:
        # degenerate guard mirrored from the Spark side (zero variance)
        var_a = (
            f"(CAST(n AS DOUBLE) * {dd(f's2_{a}_{a}')}"
            f" - {dd(f's_{a}')} * {dd(f's_{a}')})"
        )
        var_b = (
            f"(CAST(n AS DOUBLE) * {dd(f's2_{b}_{b}')}"
            f" - {dd(f's_{b}')} * {dd(f's_{b}')})"
        )
        branches.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
            f"CASE WHEN {var_a} > 0 AND {var_b} > 0 THEN "
            f"(CAST(n AS DOUBLE) * {dd(f's2_{a}_{b}')}"
            f" - {dd(f's_{a}')} * {dd(f's_{b}')}) / "
            f"(sqrt({var_a}) * sqrt({var_b})) END AS corr "
            f"FROM m"
        )
    return (
        "WITH m AS (SELECT " + ", ".join(moments) + " FROM lineitem WHERE "
        + " AND ".join(f"isfinite({c})" for c in _CORR_COLS) + ")\n"
        + "\nUNION ALL\n".join(branches)
    )


register("ext_corr_matrix", q_ext_corr_matrix, _corr_matrix_oracle())


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
# ROC-AUC of the quality score as a classifier for "substantial document"
# (char_count >= 256) — the Mann-Whitney rank-sum identity over a
# per-distinct-score histogram (operators/evalstats.py). The corpus-sized
# work is ONE partial-aggregated groupBy on the 6dp-quantized score; the
# rank-sum runs on a <= 10^6+1-row histogram regardless of corpus size
# (the quantization BOUNDS the sort — that is the 100 TB story; a global
# per-row rank would be a full corpus sort). Ties are exact (each
# positive at score s credits half a win against negatives at s, folded
# integer-exactly as 2U), and AUC is one IEEE division of exact decimals.
_AUC_LEN_THRESHOLD = 256


# ext_roc_auc: Mann–Whitney rank-sum ROC-AUC of the quality score over a
# bounded per-distinct-score histogram (never a corpus-wide sort) — the
# evaluation every curation classifier needs.
def q_ext_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.evalstats import roc_auc

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        stable_round(T.quality_score("text", round_to=None), 6)
        .cast("decimal(18,6)")
        .alias("score"),
        (T.char_count("text") >= _AUC_LEN_THRESHOLD).cast("int").alias("pos"),
    )
    return roc_auc(scored, "score", "pos")


def _roc_auc_oracle() -> str:
    from be_analytic_etl_spark.operators.evalstats import roc_auc_sql

    score_rows = f"""
        SELECT CAST({stable_round_sql(_QSCORE_SQL, 6)} AS DECIMAL(18,6)) AS score,
               CASE WHEN n_chars >= {_AUC_LEN_THRESHOLD} THEN 1 ELSE 0 END AS pos
        FROM m
    """
    return f"WITH {qscore_feature_ctes('doc_id')}, {roc_auc_sql(score_rows)}"


register("ext_roc_auc", q_ext_roc_auc, _roc_auc_oracle())


# ---------------------------------------------------------------------------
# Poisson-bootstrap CI for per-source mean quality (Chamandy et al.,
# "Estimating uncertainty for massive data streams", Google TR 2012) —
# the one-pass bootstrap that works distributed: each (doc, replicate)
# draws an independent Poisson(1) weight from the portable md5 hash
# (classic resampling would need global coordination per replicate).
# Constant 16x map-side explode; the shuffle carries (source, rep)
# partial sums only; the CI is rank-based (2nd smallest / 2nd largest
# replicate mean), so no engine-specific quantile interpolation leaks
# into the result. This is the error bar every per-source curation
# metric in the repo should be read with.
_PBOOT_REPS = 16


# ext_poisson_bootstrap: one-pass Poisson(1)-weighted bootstrap CI for
# per-source mean quality (Chamandy et al., 2012) — the error bar for
# every per-source curation metric.
def q_ext_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.evalstats import poisson_bootstrap_ci

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        stable_round(T.quality_score("text", round_to=None), 6)
        .cast("decimal(18,6)")
        .alias("q6"),
    )
    return poisson_bootstrap_ci(
        base, "source", "doc_id", "q6", n_reps=_PBOOT_REPS
    )


def _poisson_bootstrap_oracle() -> str:
    from be_analytic_etl_spark.operators.evalstats import (
        bootstrap_u_sql,
        poisson1_weight_sql,
    )

    from be_analytic_etl_spark.functions.rounding import exact_dec_double_sql

    u = bootstrap_u_sql("doc_id", "rep", "pboot")
    # wv is an unbounded exact accumulator: route its decimal->double
    # through the correctly-rounded VARCHAR cast (corr-matrix precedent)
    # so the oracle stays bit-faithful past BIGINT-range sums.
    rmean = stable_round_sql(
        f"{exact_dec_double_sql('wv')} / CAST(wsum AS DOUBLE)", 6
    )
    bmean = stable_round_sql(
        "CAST(SUM(rmean) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6
    )
    return f"""
    WITH {qscore_feature_ctes("doc_id, source")}, s AS (
        SELECT doc_id, source,
               CAST({stable_round_sql(_QSCORE_SQL, 6)} AS DECIMAL(18,6)) AS q6
        FROM m
    ), reps AS (
        SELECT s.doc_id, s.source, s.q6, r.rep
        FROM s CROSS JOIN (SELECT unnest(range(0, {_PBOOT_REPS})) AS rep) r
    ), wtd AS (
        SELECT source, rep, {poisson1_weight_sql(u)} AS w, q6 FROM reps
    ), per AS (
        SELECT source, rep, SUM(w * q6) AS wv, CAST(SUM(w) AS BIGINT) AS wsum
        FROM wtd GROUP BY source, rep
        HAVING CAST(SUM(w) AS BIGINT) > 0
    ), rm AS (
        SELECT source, rep, CAST({rmean} AS DECIMAL(18,6)) AS rmean FROM per
    ), rk AS (
        SELECT source, rmean,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY rmean, rep) AS rlo,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY rmean DESC, rep DESC) AS rhi
        FROM rm
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_reps,
           {bmean} AS boot_mean,
           CAST(MAX(CASE WHEN rlo = 2 THEN rmean END) AS DOUBLE) AS boot_lo,
           CAST(MAX(CASE WHEN rhi = 2 THEN rmean END) AS DOUBLE) AS boot_hi
    FROM rk GROUP BY source
    """


register(
    "ext_poisson_bootstrap", q_ext_poisson_bootstrap, _poisson_bootstrap_oracle()
)


# ---------------------------------------------------------------------------
# Shared: the quality score as a probability-like [0,1] confidence and
# the "substantial document" label — the SAME pairing ext_roc_auc grades,
# so AUC/ECE/MCE read off one classifier.
_CAL_LEN_THRESHOLD = 256


_CAL_BINS = 10


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        stable_round(T.quality_score("text", round_to=None), 6)
        .cast("decimal(18,6)")
        .alias("score"),
        (T.char_count("text") >= _CAL_LEN_THRESHOLD).cast("int").alias("pos"),
    )


def _scored_sql() -> str:
    return (
        f"WITH {qscore_feature_ctes('doc_id')}, sc AS ("
        f" SELECT CAST({stable_round_sql(_QSCORE_SQL, 6)} AS DECIMAL(18,6)) AS score,"
        f" CASE WHEN n_chars >= {_CAL_LEN_THRESHOLD} THEN 1 ELSE 0 END AS pos"
        f" FROM m)"
    )


# ext_reliability_bins / ext_calibration_ece: reliability diagram +
# expected/maximum calibration error for the quality classifier (Guo et
# al., ICML 2017; Naeini et al., AAAI 2015) — the natural companions to
# ``ext_roc_auc``: AUC says the score RANKS well, ECE says its VALUE can
# be read as a probability.
def q_ext_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.evalstats import calibration_bins

    return calibration_bins(_scored(spark, sf_dir), "score", "pos", _CAL_BINS)


def _reliability_bins_oracle() -> str:
    from be_analytic_etl_spark.operators.evalstats import calibration_bins_sql

    body = calibration_bins_sql("SELECT score, pos FROM sc", _CAL_BINS)
    return f"{_scored_sql()}, {body}"


register("ext_reliability_bins", q_ext_reliability_bins, _reliability_bins_oracle())


def q_ext_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.evalstats import (
        expected_calibration_error,
    )

    return expected_calibration_error(
        _scored(spark, sf_dir), "score", "pos", _CAL_BINS
    )


def _calibration_ece_oracle() -> str:
    from be_analytic_etl_spark.operators.evalstats import (
        expected_calibration_error_sql,
    )

    body = expected_calibration_error_sql("SELECT score, pos FROM sc", _CAL_BINS)
    return f"{_scored_sql()}, {body}"


register("ext_calibration_ece", q_ext_calibration_ece, _calibration_ece_oracle())


# ---------------------------------------------------------------------------
# ext_cohens_kappa: chance-corrected agreement (Cohen, 1960) between the
# stored ``lang`` label and the marker-based ``lang_id`` prediction — the
# honest version of the raw ``langid_agreement`` rate, which a
# majority-class rater can fake.
#
# Cohen's kappa between the stored language label and the marker-token
# lang_id prediction. Corpus work = one groupBy on the (true, pred) pair;
# the chance-correction fold runs on |labels|-sized frames. The existing
# ext_corpus_report emits the RAW agreement rate; kappa subtracts the
# agreement a label-marginal-matching random rater would get — the
# difference between "87% agree" and "agrees better than chance".
def q_ext_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.evalstats import cohens_kappa

    docs = _t(spark, sf_dir, "documents")
    rated = docs.select(
        F.col("lang").alias("a"), T.lang_id("text").alias("b")
    )
    return cohens_kappa(rated, "a", "b")


def _cohens_kappa_oracle() -> str:
    from be_analytic_etl_spark.operators.evalstats import cohens_kappa_sql

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
    rated = f"""
        SELECT lang AS a, {chain} AS b FROM (
            SELECT lang, {", ".join(score_cols)} FROM (
                SELECT lang, {_TOKS} AS toks FROM documents
            )
        )
    """
    return f"WITH {cohens_kappa_sql(rated)}"


register("ext_cohens_kappa", q_ext_cohens_kappa, _cohens_kappa_oracle())


# ---------------------------------------------------------------------------
# Exact heavy hitters over the token stream (operators/sketches.py):
# Misra–Gries candidates per partition (O(k) state, sketch-sized
# output), then an exact recount restricted to candidates. At 100 TB the
# groupBy shuffles <= k * partitions candidate keys, never the
# vocabulary; the threshold test cnt * k > n is integer-exact, so the
# result is partitioning-independent — which is exactly what the DuckDB
# oracle (a plain GROUP BY ... HAVING) checks.
_HH_K = 64


# ext_heavy_hitters: exact heavy hitters over the token stream via
# per-partition Misra–Gries candidates + exact recount (Misra & Gries
# 1982; merge rule per Agarwal et al., PODS 2012) — completes the sketches
# family (HLL, count-min, quantiles, now frequent items).
def q_ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sketches import heavy_hitters_exact

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokenize("text")).alias("item"))
    return heavy_hitters_exact(toks, "item", _HH_K)


register(
    "ext_heavy_hitters",
    q_ext_heavy_hitters,
    f"""
    WITH t AS (
        SELECT u.item FROM (SELECT {_TOKS} AS toks FROM documents),
             unnest(toks) u(item)
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t
    ), c AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY item
    )
    SELECT c.item, c.cnt, n.n,
           CAST(c.cnt AS DOUBLE) / CAST(n.n AS DOUBLE) AS freq
    FROM c, n WHERE c.cnt * {_HH_K} > n.n
    """,
)


# ---------------------------------------------------------------------------
# ext_robust_stats: trimmed + winsorized means per order priority from a
# bounded value histogram — rank statistics without a per-group corpus
# sort.
#
# Robust location stats per order priority (operators/robust.py): the
# corpus collapses to a (priority, whole-unit price) histogram in ONE
# partial-aggregated pass; trim ranks, boundary values, and both sums
# are exact integer/decimal arithmetic over that bounded frame.
def q_ext_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.robust import robust_means

    orders = _t(spark, sf_dir, "orders")
    vals = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor("o_totalprice").cast("long").alias("v"),
    )
    return robust_means(vals, "grp", "v", trim=0.1)


def _robust_stats_oracle() -> str:
    from be_analytic_etl_spark.operators.robust import robust_means_sql

    rows = (
        "SELECT o_orderpriority AS grp,"
        " CAST(FLOOR(o_totalprice) AS BIGINT) AS v FROM orders"
    )
    return "WITH " + robust_means_sql(rows, trim=0.1).strip()


register("ext_robust_stats", q_ext_robust_stats, _robust_stats_oracle())


# ---------------------------------------------------------------------------
# ext_welch_ttest / ext_ks_test: is source A's quality distribution
# actually different from source B's — parametric (Welch 1947) and
# distribution-free (Kolmogorov–Smirnov) forms.
#
# Welch's unequal-variance t statistic for every source pair on mean
# quality (Welch, Biometrika 1947). Corpus work = ONE partial-agg
# groupBy(source) accumulating n / Σq6 / Σq6² exactly; the pair frame is
# |sources|² control-plane rows. Means and sums-of-squares convert to
# double once (exact-rounded on both engines — the oracle routes the
# second moment through exact_dec_double_sql); the t / df tail is a
# FIXED IEEE op sequence written identically on both sides, quantized at
# the source via stable_round.
def q_ext_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
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
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("q6").alias("s1"),
            F.sum(F.col("q6") * F.col("q6")).alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    a = per.select(
        F.col("source").alias("src_a"),
        F.col("n").alias("na"),
        F.col("s1").alias("s1a"),
        F.col("s2").alias("s2a"),
    )
    b = per.select(
        F.col("source").alias("src_b"),
        F.col("n").alias("nb"),
        F.col("s1").alias("s1b"),
        F.col("s2").alias("s2b"),
    )
    j = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))

    def stats(n, s1, s2):
        nd = F.col(n).cast("double")
        m = F.col(s1).cast("double") / nd
        v = (F.col(s2).cast("double") - nd * m * m) / (nd - F.lit(1.0))
        return nd, m, v

    nda, ma, va = stats("na", "s1a", "s2a")
    ndb, mb, vb = stats("nb", "s1b", "s2b")
    sea = va / nda
    seb = vb / ndb
    se2 = sea + seb
    # class-8 NULL-safe divides: two all-tied groups give a zero pooled
    # standard error (reachable on real data), and ANSI throws on the
    # double division — NULL the statistic instead (oracle twin CASE)
    t = (ma - mb) / F.when(se2 > 0, F.sqrt(se2))
    dfw_den = sea * sea / (nda - F.lit(1.0)) + seb * seb / (ndb - F.lit(1.0))
    dfw = (se2 * se2) / F.when(dfw_den > 0, dfw_den)
    return j.select(
        "src_a",
        "src_b",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        stable_round(ma - mb, 6).alias("mean_diff"),
        stable_round(t, 6).alias("t_stat"),
        stable_round(dfw, 6).alias("df_welch"),
    )


def _welch_oracle() -> str:
    def stats(side: str) -> tuple[str, str, str]:
        # Both moments are unbounded exact accumulators -> route every
        # decimal->double cast through exact_dec_double_sql (SCALE.md
        # divergence class 3); s1 was previously a plain CAST.
        nd = f"CAST(n{side} AS DOUBLE)"
        m = f"({exact_dec_double_sql(f's1{side}')} / {nd})"
        v = (
            f"(({exact_dec_double_sql(f's2{side}')} - {nd} * {m} * {m})"
            f" / ({nd} - 1.0))"
        )
        return nd, m, v

    nda, ma, va = stats("a")
    ndb, mb, vb = stats("b")
    sea = f"({va} / {nda})"
    seb = f"({vb} / {ndb})"
    se2 = f"({sea} + {seb})"
    # degenerate guards mirrored from the Spark side (zero pooled SE)
    t = f"(({ma} - {mb}) / (CASE WHEN {se2} > 0 THEN sqrt({se2}) END))"
    dfw_den = (
        f"({sea} * {sea} / ({nda} - 1.0)"
        f" + {seb} * {seb} / ({ndb} - 1.0))"
    )
    dfw = (
        f"(({se2} * {se2}) / (CASE WHEN {dfw_den} > 0 THEN {dfw_den} END))"
    )
    return f"""
    WITH {qscore_feature_ctes('source')}, sq AS (
        SELECT source,
               CAST({stable_round_sql(_QSCORE_SQL, 6)} AS DECIMAL(18,6)) AS q6
        FROM m
    ), per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(q6) AS s1, SUM(q6 * q6) AS s2
        FROM sq GROUP BY source HAVING COUNT(*) >= 2
    ), pr AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.n AS na, a.s1 AS s1a, a.s2 AS s2a,
               b.n AS nb, b.s1 AS s1b, b.s2 AS s2b
        FROM per a JOIN per b ON a.source < b.source
    )
    SELECT src_a, src_b,
           na AS n_a, nb AS n_b,
           {stable_round_sql(f'({ma} - {mb})', 6)} AS mean_diff,
           {stable_round_sql(t, 6)} AS t_stat,
           {stable_round_sql(dfw, 6)} AS df_welch
    FROM pr
    """


register("ext_welch_ttest", q_ext_welch_ttest, _welch_oracle())


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov D between the two largest sources'
# quality distributions. The corpus collapses to a per-(score) histogram
# with one count column per side (<= 10^6+1 rows at 6dp quantization —
# the roc_auc bound); the CDF sweep is a window over that bounded frame.
# Each CDF value is one IEEE division of exact counts; D = max of their
# absolute differences — comparisons of deterministic doubles, emitted
# raw.
def q_ext_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    q6 = (
        stable_round(T.quality_score("text", round_to=None), 6)
        .cast("decimal(18,6)")
        .alias("score")
    )
    scored = docs.select("source", q6)
    top2 = (
        scored.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .select(
            "source",
            "__n",
            F.row_number()
            .over(Window.orderBy(F.col("__n").desc(), F.col("source")))
            .alias("__r"),
        )
        .filter(F.col("__r") <= 2)
    )
    tagged = scored.join(F.broadcast(top2), "source").select(
        F.when(F.col("__r") == 1, 1).otherwise(0).alias("__ia"),
        F.when(F.col("__r") == 2, 1).otherwise(0).alias("__ib"),
        "score",
        F.when(F.col("__r") == 1, F.col("source")).alias("__sa"),
        F.when(F.col("__r") == 2, F.col("source")).alias("__sb"),
    )
    hist = tagged.groupBy("score").agg(
        F.sum("__ia").cast("long").alias("__ca"),
        F.sum("__ib").cast("long").alias("__cb"),
        F.max("__sa").alias("__na_name"),
        F.max("__sb").alias("__nb_name"),
    )
    cum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    sw = hist.select(
        F.sum("__ca").over(cum).cast("long").alias("__cuma"),
        F.sum("__cb").over(cum).cast("long").alias("__cumb"),
        F.sum("__ca").over(tot).cast("long").alias("__na"),
        F.sum("__cb").over(tot).cast("long").alias("__nb"),
        F.max("__na_name").over(tot).alias("src_a"),
        F.max("__nb_name").over(tot).alias("src_b"),
    )
    # Degenerate guard (ANSI double DIVIDE_BY_ZERO when the corpus has a
    # single source: __nb = 0): NULL the per-row gap — MAX skips it
    # identically in both engines and d_stat comes out NULL.
    d = F.when(
        (F.col("__na") > 0) & (F.col("__nb") > 0),
        F.abs(
            F.col("__cuma").cast("double") / F.col("__na").cast("double")
            - F.col("__cumb").cast("double") / F.col("__nb").cast("double")
        ),
    )
    return sw.groupBy("src_a", "src_b").agg(
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        F.max(d).alias("d_stat"),
    )


def _ks_oracle() -> str:
    return f"""
    WITH {qscore_feature_ctes('source')}, sq AS (
        SELECT source,
               CAST({stable_round_sql(_QSCORE_SQL, 6)} AS DECIMAL(18,6)) AS score
        FROM m
    ), top2 AS (
        SELECT source, __n,
               ROW_NUMBER() OVER (ORDER BY __n DESC, source) AS __r
        FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS __n
              FROM sq GROUP BY source)
        QUALIFY __r <= 2
    ), h AS (
        SELECT score,
               CAST(SUM(CASE WHEN __r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS __ca,
               CAST(SUM(CASE WHEN __r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS __cb,
               MAX(CASE WHEN __r = 1 THEN sq.source END) AS __na_name,
               MAX(CASE WHEN __r = 2 THEN sq.source END) AS __nb_name
        FROM sq JOIN top2 ON sq.source = top2.source
        GROUP BY score
    ), sw AS (
        SELECT CAST(SUM(__ca) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS __cuma,
               CAST(SUM(__cb) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS __cumb,
               CAST(SUM(__ca) OVER () AS BIGINT) AS __na,
               CAST(SUM(__cb) OVER () AS BIGINT) AS __nb,
               MAX(__na_name) OVER () AS src_a,
               MAX(__nb_name) OVER () AS src_b
        FROM h
    )
    SELECT src_a, src_b,
           MAX(__na) AS n_a, MAX(__nb) AS n_b,
           MAX(CASE WHEN __na > 0 AND __nb > 0 THEN
                   ABS(CAST(__cuma AS DOUBLE) / CAST(__na AS DOUBLE)
                       - CAST(__cumb AS DOUBLE) / CAST(__nb AS DOUBLE))
               END) AS d_stat
    FROM sw GROUP BY src_a, src_b
    """


register("ext_ks_test", q_ext_ks_test, _ks_oracle())


# ---------------------------------------------------------------------------
# Chi-square independence + mutual information for source x lang. One
# groupBy on the (source, lang) cell; margins join on |labels|-sized
# frames. Each cell's libm-tainted contribution (log2 for MI; the
# squared-deviation-over-expectation for chi2 is libm-free but still a
# multi-op IEEE tail) quantizes to DECIMAL(18,6) via stable_round BEFORE
# the sum, so the fold is exact and merge-order-free (mixture_kl
# precedent). Margin products are second-moment accumulators ->
# exact_dec_double_sql on the oracle side.
def _contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cells = (
        docs.groupBy(
            F.col("source").alias("__s"), F.col("lang").alias("__l")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("__o"))
        .localCheckpoint(eager=False)
    )
    rows = cells.groupBy("__s").agg(F.sum("__o").cast("long").alias("__rm"))
    cols = cells.groupBy("__l").agg(F.sum("__o").cast("long").alias("__cm"))
    tot = cells.agg(F.sum("__o").cast("long").alias("__n"))
    return (
        cells.join(F.broadcast(rows), "__s")
        .join(F.broadcast(cols), "__l")
        .crossJoin(F.broadcast(tot))
    )


# ext_chi2_independence / ext_mutual_information: source x language
# association — the contingency diagnostics behind "is this source just
# the French crawl again".
def q_ext_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _contingency(spark, sf_dir)
    nd = F.col("__n").cast("double")
    e = (F.col("__rm").cast("decimal(38,0)") * F.col("__cm")).cast("double") / nd
    od = F.col("__o").cast("double")
    contrib = stable_round((od - e) * (od - e) / e, 6).cast("decimal(18,6)")
    agg = j.agg(
        F.max("__n").alias("n"),
        F.count_distinct(F.col("__s")).cast("long").alias("n_sources"),
        F.count_distinct(F.col("__l")).cast("long").alias("n_langs"),
        F.sum(contrib).alias("__chi2"),
    )
    return agg.select(
        "n",
        "n_sources",
        "n_langs",
        ((F.col("n_sources") - 1) * (F.col("n_langs") - 1)).alias("dof"),
        F.col("__chi2").cast("double").alias("chi2"),
    )


_CONTINGENCY_SQL = """
    cells AS (
        SELECT source AS __s, lang AS __l, CAST(COUNT(*) AS BIGINT) AS __o
        FROM documents GROUP BY 1, 2
    ), rm AS (
        SELECT __s, CAST(SUM(__o) AS BIGINT) AS __rm FROM cells GROUP BY 1
    ), cm AS (
        SELECT __l, CAST(SUM(__o) AS BIGINT) AS __cm FROM cells GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(__o) AS BIGINT) AS __n FROM cells
    ), j AS (
        SELECT cells.*, rm.__rm, cm.__cm, tot.__n
        FROM cells JOIN rm USING (__s) JOIN cm USING (__l), tot
    )
"""


def _chi2_oracle() -> str:
    e = (
        f"({exact_dec_double_sql('CAST(__rm AS DECIMAL(38,0)) * __cm')}"
        f" / CAST(__n AS DOUBLE))"
    )
    od = "CAST(__o AS DOUBLE)"
    contrib = stable_round_sql(f"(({od} - {e}) * ({od} - {e}) / {e})", 6)
    return f"""
    WITH {_CONTINGENCY_SQL}
    SELECT MAX(__n) AS n,
           CAST(COUNT(DISTINCT __s) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT __l) AS BIGINT) AS n_langs,
           (CAST(COUNT(DISTINCT __s) AS BIGINT) - 1)
               * (CAST(COUNT(DISTINCT __l) AS BIGINT) - 1) AS dof,
           CAST(SUM(CAST({contrib} AS DECIMAL(18,6))) AS DOUBLE) AS chi2
    FROM j
    """


register("ext_chi2_independence", q_ext_chi2_independence, _chi2_oracle())


def q_ext_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _contingency(spark, sf_dir)
    nd = F.col("__n").cast("double")
    od = F.col("__o").cast("double")
    prod = (F.col("__rm").cast("decimal(38,0)") * F.col("__cm")).cast("double")
    mi_term = stable_round(
        (od / nd) * F.log2(od * nd / prod), 6
    ).cast("decimal(18,6)")
    # marginal entropies: each margin row counted once via the
    # lang/source with the MINIMUM partner key (dedup without a second
    # scan of the corpus — the cells frame is checkpointed and tiny).
    hs_term = stable_round(
        (F.col("__rm").cast("double") / nd)
        * F.log2(nd / F.col("__rm").cast("double")),
        6,
    ).cast("decimal(18,6)")
    hl_term = stable_round(
        (F.col("__cm").cast("double") / nd)
        * F.log2(nd / F.col("__cm").cast("double")),
        6,
    ).cast("decimal(18,6)")
    first_l = Window.partitionBy("__s").orderBy("__l")
    first_s = Window.partitionBy("__l").orderBy("__s")
    marked = j.select(
        "__n",
        mi_term.alias("__mi"),
        F.when(F.row_number().over(first_l) == 1, hs_term).alias("__hs"),
        F.when(F.row_number().over(first_s) == 1, hl_term).alias("__hl"),
    )
    agg = marked.agg(
        F.max("__n").alias("n"),
        F.sum("__mi").alias("__mib"),
        F.sum("__hs").alias("__hsb"),
        F.sum("__hl").alias("__hlb"),
    )
    return agg.select(
        "n",
        F.col("__mib").cast("double").alias("mi_bits"),
        F.col("__hsb").cast("double").alias("h_source_bits"),
        F.col("__hlb").cast("double").alias("h_lang_bits"),
    )


def _mi_oracle() -> str:
    prod = exact_dec_double_sql("CAST(__rm AS DECIMAL(38,0)) * __cm")
    nd = "CAST(__n AS DOUBLE)"
    od = "CAST(__o AS DOUBLE)"
    mi_term = stable_round_sql(
        f"(({od} / {nd}) * log2({od} * {nd} / {prod}))", 6
    )
    hs_term = stable_round_sql(
        f"((CAST(__rm AS DOUBLE) / {nd}) * log2({nd} / CAST(__rm AS DOUBLE)))", 6
    )
    hl_term = stable_round_sql(
        f"((CAST(__cm AS DOUBLE) / {nd}) * log2({nd} / CAST(__cm AS DOUBLE)))", 6
    )
    return f"""
    WITH {_CONTINGENCY_SQL}, marked AS (
        SELECT __n,
               CAST({mi_term} AS DECIMAL(18,6)) AS __mi,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY __s ORDER BY __l) = 1
                    THEN CAST({hs_term} AS DECIMAL(18,6)) END AS __hs,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY __l ORDER BY __s) = 1
                    THEN CAST({hl_term} AS DECIMAL(18,6)) END AS __hl
        FROM j
    )
    SELECT MAX(__n) AS n,
           CAST(SUM(__mi) AS DOUBLE) AS mi_bits,
           CAST(SUM(__hs) AS DOUBLE) AS h_source_bits,
           CAST(SUM(__hl) AS DOUBLE) AS h_lang_bits
    FROM marked
    """


register("ext_mutual_information", q_ext_mutual_information, _mi_oracle())


# ---------------------------------------------------------------------------
# ext_spearman_corr: rank correlation between document length in tokens
# and in chars — monotone-association without Pearson's normality
# assumption, computed from average ranks over bounded value histograms
# (never a corpus-wide row sort).
#
# Spearman rank correlation between document token length and char
# length. Average ranks come from the two value HISTOGRAMS (bounded by
# distinct document lengths — domain-capped, not corpus-sized), doubled
# to stay integer-exact for ties ((2·rank) = 2·cum_before + cnt + 1);
# rows join their ranks back via broadcast of the bounded histograms;
# all five rank moments accumulate as DECIMAL(38,0); the Pearson-on-
# ranks tail is a fixed IEEE sequence over exact-rounded casts,
# quantized at the source.
def q_ext_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        T.token_count("text").cast("long").alias("x"),
        F.col("n_chars").cast("long").alias("y"),
    )

    def rank2(frame: DataFrame, col: str) -> DataFrame:
        h = frame.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("__c"))
        w = (
            Window.orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return h.select(
            col,
            (
                F.lit(2) * F.coalesce(F.sum("__c").over(w), F.lit(0))
                + F.col("__c")
                + F.lit(1)
            )
            .cast("long")
            .alias(f"r_{col}"),
        )
    rx = rank2(base, "x")
    ry = rank2(base, "y")
    ranked = base.join(F.broadcast(rx), "x").join(F.broadcast(ry), "y")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("r_x").cast("decimal(38,0)")).alias("__sx"),
        F.sum(F.col("r_y").cast("decimal(38,0)")).alias("__sy"),
        F.sum(
            F.col("r_x").cast("decimal(38,0)") * F.col("r_x")
        ).alias("__sxx"),
        F.sum(
            F.col("r_y").cast("decimal(38,0)") * F.col("r_y")
        ).alias("__syy"),
        F.sum(
            F.col("r_x").cast("decimal(38,0)") * F.col("r_y")
        ).alias("__sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    num = nd * F.col("__sxy").cast("double") - sx * sy
    den = F.sqrt(
        (nd * F.col("__sxx").cast("double") - sx * sx)
        * (nd * F.col("__syy").cast("double") - sy * sy)
    )
    return agg.select(
        "n",
        F.when(den > 0.0, stable_round(num / den, 6)).alias("spearman_rho"),
    )


def _spearman_oracle() -> str:
    sxd = exact_dec_double_sql("__sx")
    syd = exact_dec_double_sql("__sy")
    sxxd = exact_dec_double_sql("__sxx")
    syyd = exact_dec_double_sql("__syy")
    sxyd = exact_dec_double_sql("__sxy")
    nd = "CAST(n AS DOUBLE)"
    num = f"({nd} * {sxyd} - {sxd} * {syd})"
    den = (
        f"sqrt(({nd} * {sxxd} - {sxd} * {sxd})"
        f" * ({nd} * {syyd} - {syd} * {syd}))"
    )
    return f"""
    WITH base AS (
        SELECT CAST(len({_TOKS}) AS BIGINT) AS x,
               CAST(n_chars AS BIGINT) AS y
        FROM documents
    ), hx AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY x
    ), rx AS (
        SELECT x,
               CAST(2 * coalesce(SUM(c) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + c + 1 AS BIGINT) AS r_x
        FROM hx
    ), hy AS (
        SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY y
    ), ry AS (
        SELECT y,
               CAST(2 * coalesce(SUM(c) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + c + 1 AS BIGINT) AS r_y
        FROM hy
    ), rk AS (
        SELECT r_x, r_y FROM base JOIN rx USING (x) JOIN ry USING (y)
    ), a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(r_x AS DECIMAL(38,0))) AS __sx,
               SUM(CAST(r_y AS DECIMAL(38,0))) AS __sy,
               SUM(CAST(r_x AS DECIMAL(38,0)) * r_x) AS __sxx,
               SUM(CAST(r_y AS DECIMAL(38,0)) * r_y) AS __syy,
               SUM(CAST(r_x AS DECIMAL(38,0)) * r_y) AS __sxy
        FROM rk
    )
    SELECT n,
           CASE WHEN {den} > 0.0
                THEN {stable_round_sql(f'({num} / {den})', 6)}
                ELSE NULL END AS spearman_rho
    FROM a
    """


register("ext_spearman_corr", q_ext_spearman_corr, _spearman_oracle())


# ---------------------------------------------------------------------------
# Hill tail-index estimator (Hill, Ann. Stat. 1975) for the order-value
# distribution: alpha^-1 = (1/k) Σ_{i=1..k} ln(X_(i) / T) over the k
# largest values, T = the (k+1)-th largest. The textbook form sorts the
# corpus; here the corpus collapses to a whole-unit value histogram
# (bounded by the value DOMAIN — the robust_stats discipline), the
# top-k membership comes from a descending cumulative-count sweep over
# that bounded frame, and the threshold T broadcasts back as a one-row
# scalar. ln is libm -> each distinct value's term quantizes via
# stable_round BEFORE the count-weighted exact sum (mixture_kl
# precedent); the emitted estimates are single IEEE divisions.
_HILL_K = 100


# ext_hill_tail: Hill tail-index estimator over the top-k order
# statistics, read off the same bounded value histogram — heavy-tail
# diagnostics without a corpus sort.
def q_ext_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    h = (
        orders.select(F.floor("o_totalprice").cast("long").alias("v"))
        .filter(F.col("v") >= 1)
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wd = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = h.select("v", "c", F.sum("c").over(wd).cast("long").alias("cum"))
    cum = cum.localCheckpoint(eager=False)
    thr = cum.filter(F.col("cum") >= _HILL_K + 1).agg(
        F.max("v").alias("threshold")
    )
    tot = cum.agg(F.sum("c").cast("long").alias("n"))
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), F.lit(_HILL_K)) - (F.col("cum") - F.col("c")),
    )
    term = stable_round(
        F.log(F.col("v").cast("double") / F.col("threshold").cast("double")), 6
    ).cast("decimal(18,6)")
    j = cum.crossJoin(F.broadcast(thr)).crossJoin(F.broadcast(tot))
    agg = j.agg(
        F.max("n").alias("n"),
        F.max("threshold").alias("threshold"),
        F.sum(kept * term).alias("__hsum"),
    )
    inv = F.col("__hsum").cast("double") / F.lit(float(_HILL_K))
    return agg.select(
        "n",
        F.lit(_HILL_K).cast("long").alias("k"),
        "threshold",
        inv.alias("hill_alpha_inv"),
        (F.lit(float(_HILL_K)) / F.col("__hsum").cast("double")).alias(
            "hill_alpha"
        ),
    )


def _hill_oracle() -> str:
    term = stable_round_sql(
        "ln(CAST(v AS DOUBLE) / CAST(threshold AS DOUBLE))", 6
    )
    return f"""
    WITH h AS (
        SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders WHERE FLOOR(o_totalprice) >= 1 GROUP BY 1
    ), cm AS (
        SELECT v, c,
               CAST(SUM(c) OVER (ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM h
    ), thr AS (
        SELECT MAX(v) AS threshold FROM cm WHERE cum >= {_HILL_K + 1}
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM cm
    ), j AS (
        SELECT cm.*, thr.threshold, tot.n FROM cm, thr, tot
    )
    SELECT MAX(n) AS n,
           CAST({_HILL_K} AS BIGINT) AS k,
           MAX(threshold) AS threshold,
           CAST(SUM(GREATEST(0, LEAST(cum, {_HILL_K}) - (cum - c))
                    * CAST({term} AS DECIMAL(18,6))) AS DOUBLE)
               / {float(_HILL_K)!r} AS hill_alpha_inv,
           {float(_HILL_K)!r}
               / CAST(SUM(GREATEST(0, LEAST(cum, {_HILL_K}) - (cum - c))
                          * CAST({term} AS DECIMAL(18,6))) AS DOUBLE)
               AS hill_alpha
    FROM j
    """


register("ext_hill_tail", q_ext_hill_tail, _hill_oracle())


# ---------------------------------------------------------------------------
# GPD peaks-over-threshold moments (Pickands 1975; method-of-moments fit
# per Hosking & Wallis 1987): excesses Y = X - u over the (k+1)-th
# largest value u follow a Generalized Pareto in the tail; MOM gives
# xi = (1 - m²/s²)/2 and beta = m(m²/s² + 1)/2 from the excess mean and
# variance. The Hill estimator (ext_hill_tail) assumes a pure power
# tail; the GPD fit also covers the light/bounded-tail regimes. Same
# 100 TB shape as hill/robust: the corpus collapses to the bounded
# whole-unit value histogram, excesses and both moments are exact
# integer/decimal arithmetic over that frame (ΣY, ΣY² as DECIMAL(38,0)
# — ΣY² is a second moment, so the oracle casts through the
# correctly-rounded VARCHAR route), and the xi/beta tail is a fixed
# IEEE sequence quantized at the source.
_POT_K = 500


# ext_gpd_tail: GPD peaks-over-threshold method-of-moments fit (xi, beta)
# from exact excess moments over the same histogram — the extreme-value
# companion that also covers non-power-law tails.
def q_ext_gpd_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    h = (
        orders.select(F.floor("o_totalprice").cast("long").alias("v"))
        .filter(F.col("v") >= 0)
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wd = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = h.select(
        "v", "c", F.sum("c").over(wd).cast("long").alias("cum")
    ).localCheckpoint(eager=False)
    thr = cum.filter(F.col("cum") >= _POT_K + 1).agg(
        F.max("v").alias("threshold")
    )
    tot = cum.agg(F.sum("c").cast("long").alias("n"))
    j = cum.crossJoin(F.broadcast(thr)).crossJoin(F.broadcast(tot))
    exc = (F.col("v") - F.col("threshold")).cast("decimal(38,0)")
    over = F.col("v") > F.col("threshold")
    agg = j.agg(
        F.max("n").alias("n"),
        F.max("threshold").alias("threshold"),
        F.sum(F.when(over, F.col("c")).otherwise(0)).cast("long").alias("n_exceed"),
        F.sum(F.when(over, exc * F.col("c")).otherwise(F.lit(0))).alias("__s1"),
        F.sum(F.when(over, exc * exc * F.col("c")).otherwise(F.lit(0))).alias(
            "__s2"
        ),
    )
    ne = F.col("n_exceed").cast("double")
    # NULL-safe divisions (ANSI double DIVIDE_BY_ZERO): with zero/one
    # exceedance the `ok` output gates never fire, but codegen's
    # subexpression elimination hoists these shared quotients OUT of
    # the lazy CASE branches and evaluates them unconditionally — so
    # the guard must live on the division itself. Oracle twin: NULLIF.
    m = F.col("__s1").cast("double") / F.when(ne > 0, ne)
    s2 = (F.col("__s2").cast("double") - ne * m * m) / F.when(
        ne > 1, ne - F.lit(1.0)
    )
    r = m * m / F.when(s2 > 0, s2)  # s2 == 0 with tied exceedances
    xi = (F.lit(1.0) - r) / F.lit(2.0)
    beta = m * (r + F.lit(1.0)) / F.lit(2.0)
    ok = (F.col("n_exceed") > 1) & (F.col("__s2") > 0)
    return agg.select(
        "n",
        "n_exceed",
        "threshold",
        F.when(ok, stable_round(m, 6)).alias("mean_excess"),
        F.when(ok & (s2 > 0.0), stable_round(xi, 6)).alias("gpd_xi"),
        F.when(ok & (s2 > 0.0), stable_round(beta, 6)).alias("gpd_beta"),
    )


def _gpd_oracle() -> str:
    s1d = exact_dec_double_sql("__s1")
    s2d = exact_dec_double_sql("__s2")
    ne = "CAST(n_exceed AS DOUBLE)"
    # degenerate guards mirrored from the Spark side (NULL-safe divides)
    m = f"({s1d} / NULLIF({ne}, 0.0))"
    s2 = f"(({s2d} - {ne} * {m} * {m}) / NULLIF({ne} - 1.0, 0.0))"
    r = f"({m} * {m} / (CASE WHEN {s2} > 0 THEN {s2} END))"
    xi = f"((1.0 - {r}) / 2.0)"
    beta = f"({m} * ({r} + 1.0) / 2.0)"
    return f"""
    WITH h AS (
        SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders WHERE FLOOR(o_totalprice) >= 0 GROUP BY 1
    ), cm AS (
        SELECT v, c,
               CAST(SUM(c) OVER (ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM h
    ), thr AS (
        SELECT MAX(v) AS threshold FROM cm WHERE cum >= {_POT_K + 1}
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM cm
    ), a AS (
        SELECT MAX(n) AS n,
               MAX(threshold) AS threshold,
               CAST(SUM(CASE WHEN v > threshold THEN c ELSE 0 END) AS BIGINT)
                   AS n_exceed,
               -- per-row products stay BIGINT (excess <= value domain,
               -- fits easily at oracle SFs); SUM(BIGINT) accumulates as
               -- HUGEINT, exact, then casts via the VARCHAR route
               SUM(CASE WHEN v > threshold
                        THEN (v - threshold) * c
                        ELSE 0 END) AS __s1,
               SUM(CASE WHEN v > threshold
                        THEN (v - threshold) * (v - threshold) * c
                        ELSE 0 END) AS __s2
        FROM cm, thr, tot
    )
    SELECT n, n_exceed, threshold,
           CASE WHEN n_exceed > 1 AND __s2 > 0
                THEN {stable_round_sql(m, 6)} END AS mean_excess,
           CASE WHEN n_exceed > 1 AND __s2 > 0 AND {s2} > 0.0
                THEN {stable_round_sql(xi, 6)} END AS gpd_xi,
           CASE WHEN n_exceed > 1 AND __s2 > 0 AND {s2} > 0.0
                THEN {stable_round_sql(beta, 6)} END AS gpd_beta
    FROM a
    """


register("ext_gpd_tail", q_ext_gpd_tail, _gpd_oracle())


# ---------------------------------------------------------------------------
# ext_jensen_shannon: per-source JSD (bits) vs the corpus token blend —
# the symmetric, bounded drift gauge beside ``ext_mixture_kl``; tokens a
# source lacks fold into one exact covered-mass term instead of
# enumerating the complement vocabulary.
#
# Per-source Jensen–Shannon divergence (bits) of the token unigram
# distribution vs the corpus blend (Lin, IEEE-IT 1991) — the symmetric,
# [0,1]-bounded companion to ``ext_mixture_kl``: KL says how surprised
# the blend is by the source; JSD is the metric-like drift gauge
# production mixers alarm on. Same shape as mixture_kl: one
# checkpointed (source, token) agg, per-token partial sums; tokens the
# SOURCE LACKS never enumerate — with p=0 the mixture m = q/2 makes
# their whole contribution 0.5·Σ_absent q·log2(q/(q/2)) = 0.5·(1 −
# Σ_present q), one exact-count division (the covered corpus mass),
# so the join stays on present tokens only.
#
# Float discipline: p, q, m are single IEEE divisions of exact counts;
# log2 terms quantize to DECIMAL(18,6) BEFORE the sum (mixture_kl
# precedent); the closing absent-mass term is a fixed 4-op IEEE tail
# of exact-count divisions, identical on both sides.
def q_ext_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    p = F.col("__c_st").cast("double") / F.col("__n_s").cast("double")
    q = F.col("__c_t").cast("double") / F.col("__n").cast("double")
    m = (p + q) / F.lit(2.0)
    term = stable_round(
        F.lit(0.5) * p * F.log2(p / m) + F.lit(0.5) * q * F.log2(q / m), 6
    ).cast("decimal(18,6)")
    j = (
        st.join(tok, "__w")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
    )
    agg = j.groupBy("source").agg(
        F.max("__n_s").alias("n_tokens"),
        F.max("__vocab_s").alias("vocab_size"),
        F.sum(term).alias("__present"),
        F.sum("__c_t").cast("long").alias("__cov_cnt"),
        F.max("__n").alias("__nn"),
    )
    absent = F.lit(0.5) * (
        F.lit(1.0)
        - F.col("__cov_cnt").cast("double") / F.col("__nn").cast("double")
    )
    return agg.select(
        "source",
        "n_tokens",
        "vocab_size",
        stable_round(F.col("__present").cast("double") + absent, 6).alias(
            "jsd_bits"
        ),
    )


def _jsd_oracle() -> str:
    p = "(CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))"
    q = "(CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE))"
    m = f"(({p} + {q}) / 2.0)"
    term = stable_round_sql(
        f"0.5 * {p} * log2({p} / {m}) + 0.5 * {q} * log2({q} / {m})", 6
    )
    final = stable_round_sql(
        "CAST(present AS DOUBLE)"
        " + 0.5 * (1.0 - CAST(cov_cnt AS DOUBLE) / CAST(nn AS DOUBLE))",
        6,
    )
    return f"""
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
    ), a AS (
        SELECT st.source, MAX(n_s) AS n_tokens, MAX(vocab_s) AS vocab_size,
               SUM(CAST({term} AS DECIMAL(18,6))) AS present,
               CAST(SUM(c_t) AS BIGINT) AS cov_cnt,
               MAX(n) AS nn
        FROM st JOIN tok USING (w) JOIN src USING (source) CROSS JOIN tot
        GROUP BY st.source
    )
    SELECT source, n_tokens, vocab_size, {final} AS jsd_bits
    FROM a
    """


register("ext_jensen_shannon", q_ext_jensen_shannon, _jsd_oracle())


# ---------------------------------------------------------------------------
# k-mins distinct-count sketch per event type + merged ALL row.
_KM_K = 64


# ext_kmins_distinct: k-mins cardinality sketch (Cohen, JCSS 1997) per
# event type + the merged ALL row — the mergeable distinct-count companion
# to HLL that a SQL oracle can replay exactly.
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


# ext_psi_drift: Population Stability Index of each source's quality-score
# decile distribution vs the corpus blend — the binned-drift gauge
# production scorecards alarm on, beside the token-level
# ``ext_mixture_kl`` / ``ext_jensen_shannon``.
def q_ext_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return psi_from_binned(_psi_scored(spark, sf_dir))


def _psi_oracle() -> str:
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


# ext_benford_digits: first-significant-digit audit of order totals vs
# Benford's law (Benford 1938; Nigrini's fraud-screen usage) — a
# data-quality screen over any financial fact column.
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
# ext_lift_curve: cumulative gains / lift by score decile — the
# campaign-targeting read of the same classifier ``ext_roc_auc`` and
# ``ext_calibration_ece`` grade.
#
# Cumulative gains / lift by quality-score decile — the targeting read
# of the calibration classifier. All accumulations are exact counts;
# gain and lift are single IEEE divisions of exact BIGINT products
# (cum_pos * n <= n^2 < 2^63 up to ~3e9 rows; beyond that the products
# move to DECIMAL — documented in SCALE.md).


def q_ext_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
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


# ext_ndcg: NDCG@10 of the exact cosine retrieval against the stored class
# labels (Järvelin & Kekäläinen, TOIS 2002) — the graded ranking metric
# beside the recall-style ANN evals.
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
    return (
        f"{qscore_feature_ctes('doc_id, source, lang, n_chars')}, sq AS ("
        f" SELECT source, lang, n_chars,"
        f" CAST({stable_round_sql(_QSCORE_SQL, 6)} AS DECIMAL(18,6)) AS __q6"
        f" FROM m)"
    )


# ---------------------------------------------------------------------------
# ext_cliffs_delta: per-source Cliff's delta (Cliff, Psych. Bull. 1993) of
# document length vs the rest of the corpus — the nonparametric effect
# size behind "is this source systematically longer", via the same
# bounded-histogram rank algebra as ``ext_roc_auc``.
#
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
# ext_mann_whitney: per-language Mann-Whitney U test (Mann & Whitney 1947)
# of the quality score vs the rest — U, the rank-biserial correlation
# (Cureton 1956), and the tie-corrected normal z. The TEST companion to
# ``ext_roc_auc``'s pure AUC readout.
#
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


# ext_kendall_tau: Kendall tau-b (Kendall 1945) between quality deciles
# and length buckets from the bounded joint contingency — the
# rank-association companion to ``ext_spearman_corr``.
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
# Brier score with the Murphy (1973) decomposition — reliability,
# resolution, uncertainty — of the quality score as a probability of
# the substantial-document label: the proper-scoring-rule leg beside
# ext_roc_auc (ranking) and ext_calibration_ece (calibration); reuses
# the ``_scored`` (score, pos) pairing so all three grade ONE classifier.
# The Brier sum accumulates exactly because (p - y) is narrowed to
# DECIMAL(8,6) BEFORE squaring: |score - pos| <= 1, so the narrow cast
# is lossless, and the product type is decimal(17,12) — exact. (At the
# natural decimal(19,6) operand width the product would overflow
# precision 38 and Spark silently narrows the result scale to 11
# before any outer cast — a cross-engine divergence DuckDB's exact
# DECIMAL products don't share.) The
# per-bin reliability/resolution terms are single IEEE expressions
# of exact sums quantized to DECIMAL(18,6) BEFORE the <= K-bin fold
# (bounded-term discipline); uncertainty is one division pair.
_BRIER_BINS = 10


# ext_brier_decomp: Brier score (1950) with the Murphy (1973) reliability
# / resolution / uncertainty decomposition of the quality classifier
# against the substantial-document label — the third leg beside
# ``ext_roc_auc`` (ranking) and ``ext_calibration_ece`` (calibration).
def q_ext_brier_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
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
# ext_levene: Brown-Forsythe variance-homogeneity test (Brown & Forsythe,
# JASA 1974) of the quality score across sources — the spread companion to
# ``ext_anova_f``'s mean test, on absolute deviations from exact
# per-source medians.
#
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
        # Spark would silently narrow the product scale.
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
# ext_mcnemar: McNemar's test (1947) on the two resident quality
# classifiers' disagreement cells — marginal-homogeneity companion to the
# ``ext_cohens_kappa`` agreement read.
#
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


# ---------------------------------------------------------------------------
# ext_kruskal_wallis: tie-corrected Kruskal-Wallis H (Kruskal & Wallis,
# JASA 1952) of the quality score across sources — the k-sample omnibus
# extension of ``ext_mann_whitney``.
#
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
# ext_mood_median: Mood's median test (Mood 1950) of document length
# across sources — the 2 x k above/below-grand-median chi-square, the
# location companion that is robust where rank sums are not.
#
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


# ext_cramers_v: Cramér's V (Cramér 1946) with the Bergsma (2013) bias
# correction on the source x score-decile contingency — the effect-size
# companion to ``ext_chi2_independence``.
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
        # silently missing (caught by the brute-force property
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


# ext_hellinger: per-language Bhattacharyya coefficient (Bhattacharyya
# 1943) and Hellinger distance (Hellinger 1909) vs the rest of the corpus
# over the bounded score-decile grid — the bounded-metric companion to
# ``ext_jensen_shannon`` (no logs: sqrt only).
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
# ext_cvm: Cramér-von Mises two-sample statistic (Cramér 1928; Anderson
# 1962 two-sample form) of English vs the rest — the integrated-CDF
# companion to the supremum-based ``ext_ks_test``.
#
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


# ext_jonckheere: Jonckheere-Terpstra ordered-alternative trend test
# (Jonckheere, Biometrika 1954; Terpstra 1952) of the quality score across
# ordered length buckets — "does quality rise with document length", which
# the unordered ANOVA/KW omnibus cannot ask.
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
# ext_wasserstein: per-language 1-D Wasserstein-1 / earth-mover distance
# (Kantorovich 1942) vs the rest — exact CDF-gap integral over the score
# value domain, the transport-metric leg beside PSI/JS/KL.
#
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


# ext_hodges_lehmann: Hodges-Lehmann shift estimator (Hodges & Lehmann,
# Ann. Math. Stat. 1963) of weekend vs weekday daily revenue — the median
# of all pairwise differences, the ESTIMATOR companion to the Mann-Whitney
# TEST.
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
# ext_friedman: Friedman test (Friedman, JASA 1937) with tie correction of
# daily revenue across event types over complete day-blocks — the blocked
# k-sample design (KW assumes independent groups; days are blocks here).
#
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


# ---------------------------------------------------------------------------
# Deterministic permutation test: en-vs-rest quality-score contrast.

_PERM_B = 64


def _q6_score() -> F.Column:
    return _q6()


# ext_permutation_test: randomization inference without randomness — B =
# 64 deterministic pseudo-permutations (portable md5-head hash of (doc_id,
# b) mod 2) of the en-vs-rest quality-score contrast; p = (1 + #{b :
# |stat_b| >= |stat_obs|}) / (B + 1) (add-one per Phipson & Smyth 2010).
# One corpus pass explodes b = 0..63 (bounded 64x work, logged), folds to
# a 64-row frame; the test statistics are single IEEE divisions of exact
# DECIMAL score sums, quantized at 12dp before the cross-engine
# comparison.
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
# ext_cuped: CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM
# 2013) of per-customer post-period spend using pre-period spend as the
# covariate: theta = cov(X,Y)/var(X) and the variance-reduction factor
# rho^2, from exact cents moments (the corr-matrix moment shape), fixed
# IEEE tails, NULL-guarded denominators (class-8).
#
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


# ---------------------------------------------------------------------------
# t-digest write+read panel.

_TD_DELTA = 32


_TD_READ_Q = [10_000, 100_000, 250_000, 500_000, 750_000, 900_000, 990_000]


# ext_tdigest_panel: one row per t-digest cluster (the full write-path
# summary) widened with the quantile READ path aggregated onto the owning
# cluster (owned-q count, rank/exact checksums, worst measured error).
def q_ext_tdigest_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sketches import tdigest_panel

    orders = _t(spark, sf_dir, "orders")
    vals = orders.select(F.floor("o_totalprice").cast("long").alias("v"))
    return tdigest_panel(vals, "v", _TD_READ_Q, delta=_TD_DELTA)


def _tdigest_panel_oracle() -> str:
    from be_analytic_etl_spark.operators.sketches import tdigest_panel_sql

    rows = "SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS v FROM orders"
    return "WITH " + tdigest_panel_sql(rows, _TD_READ_Q, delta=_TD_DELTA).strip()


register("ext_tdigest_panel", q_ext_tdigest_panel, _tdigest_panel_oracle())


# ---------------------------------------------------------------------------
# HLL register-merge rollup + exact-error panel: p=8, salt='hllu',
# distinct TEXT per source on documents.

_HLL_P = 8


_HLL_SALT = "hllu"


# ext_hll_panel: the register-merge rollup (per-source scopes + the
# register-wise-MAX 'ALL' row) widened with the exact distinct count per
# scope, so the estimate's error is visible.
def q_ext_hll_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sketches import (
        hll_estimate,
        hll_merge_registers,
        hll_registers,
    )

    docs = _t(spark, sf_dir, "documents")
    # lazy checkpoint: both union branches reference regs — without it
    # each branch would re-scan the corpus; with it the sketch-sized
    # register frame (<= 2^p rows per source) materializes once.
    regs = hll_registers(
        docs, ["source"], "text", p=_HLL_P, salt=_HLL_SALT
    ).localCheckpoint(eager=False)
    scoped = regs.select(
        F.col("source").cast("string").alias("scope"), "__idx", "__m"
    ).unionByName(
        hll_merge_registers(regs, []).select(
            F.lit("ALL").alias("scope"), "__idx", "__m"
        )
    )
    est = hll_estimate(scoped, ["scope"], p=_HLL_P)
    # exact side in ONE corpus pass: rollup((scope)) = per-source rows +
    # the grand-total row; the grouping flag names the total 'ALL' so it
    # lines up with the merged sketch row.
    exact = (
        docs.select(F.col("source").cast("string").alias("scope"), "text")
        .rollup("scope")
        .agg(
            F.countDistinct("text").cast("long").alias("exact_distinct"),
            F.grouping("scope").alias("__g"),
        )
        .select(
            F.when(F.col("__g") == 1, F.lit("ALL"))
            .otherwise(F.col("scope"))
            .alias("scope"),
            "exact_distinct",
        )
    )
    # null-safe: a NULL source is a legitimate scope on drifted upstreams
    # (NULL-poisoned-batch gate) and must still line up with its sketch.
    return est.join(
        exact, est["scope"].eqNullSafe(exact["scope"]), "left"
    ).select(est["scope"], "hll_estimate", "n_registers_used", "exact_distinct")


def _hll_panel_oracle() -> str:
    from be_analytic_etl_spark.operators.sketches import hll_union_sql_twin

    twin = hll_union_sql_twin(
        "documents", "source", "text", p=_HLL_P, salt=_HLL_SALT
    )
    return f"""
    WITH sketch AS ({twin}),
    exact AS (
        SELECT CASE WHEN GROUPING(scope) = 1 THEN 'ALL' ELSE scope END
                   AS scope,
               CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct
        FROM (SELECT CAST(source AS VARCHAR) AS scope, text FROM documents)
        GROUP BY ROLLUP (scope)
    )
    SELECT s.scope, s.hll_estimate, s.n_registers_used, e.exact_distinct
    FROM sketch s LEFT JOIN exact e ON s.scope IS NOT DISTINCT FROM e.scope
    """


register("ext_hll_panel", q_ext_hll_panel, _hll_panel_oracle())


# Host-quantized standard-normal quantiles (engine-external constants,
# embedded as identical literals in both plans): z_{0.975} and z_{0.8}.
_Z975 = 1.959964


_Z80 = 0.841621


# ---------------------------------------------------------------------------
# ext_effect_size_power: Cohen's d / Hedges' g standardized effect size of
# the en-vs-rest quality contrast (Cohen 1988; Hedges 1981) with the
# large-sample SE of d and the 80%-power minimum detectable effect at
# alpha = 0.05 (two z constants host-quantized, as all engine-external
# constants are) — the DESIGN companion to ``ext_welch_ttest``'s
# inference.
#
# Cohen's d / Hedges' g + SE + minimum detectable effect, en vs rest.


def q_ext_effect_size_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    en = F.coalesce(F.col("lang") == "en", F.lit(False)).cast("int")
    scored = docs.select(en.alias("__en"), _q6())
    # two-stage fold (the welch_ttest shape): the per-group moment agg
    # keeps the large quality-score expression OUT of the conditional
    # aggregates — a single wide agg with 6 q6-carrying branches blows
    # the JIT method limit and falls out of codegen (measured: 9 s flat
    # vs 1 s; the fallback compile retry dominates at every SF).
    grouped = scored.groupBy("__en").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__q6").alias("__s"),
        F.sum(F.col("__q6") * F.col("__q6")).alias("__q"),
    )
    per = grouped.groupBy().agg(
        *[
            agg
            for g in (1, 0)
            for agg in (
                F.coalesce(
                    F.max(F.when(F.col("__en") == g, F.col("__n"))),
                    F.lit(0).cast("long"),
                ).alias(f"n{g}"),
                F.max(F.when(F.col("__en") == g, F.col("__s"))).alias(
                    f"s{g}"
                ),
                F.max(F.when(F.col("__en") == g, F.col("__q"))).alias(
                    f"q{g}"
                ),
            )
        ]
    )

    def stats(n, s, q):
        nd = F.col(n).cast("double")
        m = F.col(s).cast("double") / nd
        v = (F.col(q).cast("double") - nd * m * m) / (nd - F.lit(1.0))
        return nd, m, v

    n1, m1, v1 = stats("n1", "s1", "q1")
    n0, m0, v0 = stats("n0", "s0", "q0")
    dfree = n1 + n0 - F.lit(2.0)
    pooled = ((n1 - F.lit(1.0)) * v1 + (n0 - F.lit(1.0)) * v0) / dfree
    d = (m1 - m0) / F.sqrt(F.when(pooled > 0, pooled))
    g = d * (F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * dfree - F.lit(1.0)))
    se_d = F.sqrt(
        (n1 + n0) / (n1 * n0) + d * d / (F.lit(2.0) * (n1 + n0))
    )
    se2 = v1 / n1 + v0 / n0
    mde = F.lit(_Z975 + _Z80) * F.sqrt(F.when(se2 > 0, se2))
    ok = (F.col("n1") >= 2) & (F.col("n0") >= 2)
    return per.select(
        F.col("n1").alias("n_en"),
        F.col("n0").alias("n_rest"),
        F.when(ok, stable_round(m1 - m0, 6)).alias("mean_diff"),
        F.when(ok, stable_round(d, 6)).alias("cohens_d"),
        F.when(ok, stable_round(g, 6)).alias("hedges_g"),
        F.when(ok, stable_round(se_d, 6)).alias("se_d"),
        F.when(ok, stable_round(mde, 6)).alias("mde_80"),
    )


def _effect_size_oracle() -> str:
    def stats(n, s, q):
        nd = f"CAST({n} AS DOUBLE)"
        m = f"(CAST({s} AS DOUBLE) / {nd})"
        v = f"((CAST({q} AS DOUBLE) - {nd} * {m} * {m}) / ({nd} - 1.0))"
        return nd, m, v

    n1, m1, v1 = stats("n1", "s1", "q1")
    n0, m0, v0 = stats("n0", "s0", "q0")
    dfree = f"({n1} + {n0} - 2.0)"
    pooled = f"((({n1} - 1.0) * {v1} + ({n0} - 1.0) * {v0}) / {dfree})"
    d = f"(({m1} - {m0}) / sqrt(CASE WHEN {pooled} > 0 THEN {pooled} END))"
    g = f"({d} * (1.0 - 3.0 / (4.0 * {dfree} - 1.0)))"
    se_d = (
        f"sqrt(({n1} + {n0}) / ({n1} * {n0})"
        f" + {d} * {d} / (2.0 * ({n1} + {n0})))"
    )
    se2 = f"({v1} / {n1} + {v0} / {n0})"
    mde = f"({_Z975 + _Z80!r} * sqrt(CASE WHEN {se2} > 0 THEN {se2} END))"
    return f"""
    WITH {_q6_cte()}, scored AS (
        SELECT CASE WHEN COALESCE(lang = 'en', FALSE) THEN 1 ELSE 0 END
                   AS __en,
               __q6
        FROM sq
    ), per AS (
        SELECT COALESCE(CAST(SUM(__en) AS BIGINT), 0) AS n1,
               SUM(CASE WHEN __en = 1 THEN __q6 END) AS s1,
               SUM(CASE WHEN __en = 1 THEN __q6 * __q6 END) AS q1,
               COALESCE(CAST(SUM(1 - __en) AS BIGINT), 0) AS n0,
               SUM(CASE WHEN __en = 0 THEN __q6 END) AS s0,
               SUM(CASE WHEN __en = 0 THEN __q6 * __q6 END) AS q0
        FROM scored
    )
    SELECT n1 AS n_en, n0 AS n_rest,
           CASE WHEN n1 >= 2 AND n0 >= 2
                THEN {stable_round_sql(f"({m1} - {m0})", 6)} END AS mean_diff,
           CASE WHEN n1 >= 2 AND n0 >= 2
                THEN {stable_round_sql(d, 6)} END AS cohens_d,
           CASE WHEN n1 >= 2 AND n0 >= 2
                THEN {stable_round_sql(g, 6)} END AS hedges_g,
           CASE WHEN n1 >= 2 AND n0 >= 2
                THEN {stable_round_sql(se_d, 6)} END AS se_d,
           CASE WHEN n1 >= 2 AND n0 >= 2
                THEN {stable_round_sql(mde, 6)} END AS mde_80
    FROM per
    """


register(
    "ext_effect_size_power", q_ext_effect_size_power, _effect_size_oracle()
)


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch: chi-square GOF of the 90/5/5 hash split.
# Expected counts are exact rationals n * {9000, 500, 500} / 10000; each
# (O-E)^2/E term is one fixed IEEE chain of exact integers (magnitude
# <= n: below the 6dp pass-through threshold up to ~9e9 rows, the
# ext_mood_median documented bound), and the 3-term fold is WITHIN one
# row — no cross-row double accumulation at all.

_SRM_MILLI = {"train": 9000, "val": 500, "test": 500}


# ext_srm_check: sample-ratio-mismatch chi-square of the deterministic
# 90/5/5 hash split against its declared ratios (Fabijan et al.,
# "Diagnosing sample ratio mismatch", KDD 2019) — the assignment-health
# gate every experiment pipeline runs first.
def q_ext_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sampling import assign_split

    docs = _t(spark, sf_dir, "documents")
    tagged = docs.select(assign_split("doc_id").alias("__s"))
    per = tagged.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(F.when(F.col("__s") == name, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{name}")
            for name in _SRM_MILLI
        ],
    )

    def cell(name):
        ed = (F.col("n") * F.lit(_SRM_MILLI[name])).cast("double") / F.lit(
            10000.0
        )
        od = F.col(f"n_{name}").cast("double")
        return (od - ed) * (od - ed) / F.when(ed > 0, ed)

    chi2 = cell("train") + cell("val") + cell("test")
    return per.select(
        F.col("n").alias("n_docs"),
        "n_train",
        "n_val",
        "n_test",
        stable_round(chi2, 6).alias("srm_chi2"),
        F.lit(2).alias("df"),
    )


def _srm_oracle() -> str:
    def cell(name):
        ed = f"(CAST(n * {_SRM_MILLI[name]} AS DOUBLE) / 10000.0)"
        od = f"CAST(n_{name} AS DOUBLE)"
        return (
            f"(({od} - {ed}) * ({od} - {ed})"
            f" / (CASE WHEN {ed} > 0 THEN {ed} END))"
        )

    chi2 = f"({cell('train')} + {cell('val')} + {cell('test')})"
    b = _bucket_sql("split")
    return f"""
    WITH tagged AS (
        SELECT CASE WHEN {b} < 9000 THEN 'train'
                    WHEN {b} < 9500 THEN 'val'
                    ELSE 'test' END AS __s
        FROM documents
    ), per AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN __s = 'train' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_train,
               CAST(SUM(CASE WHEN __s = 'val' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_val,
               CAST(SUM(CASE WHEN __s = 'test' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_test
        FROM tagged
    )
    SELECT n AS n_docs, n_train, n_val, n_test,
           {stable_round_sql(chi2, 6)} AS srm_chi2,
           2 AS df
    FROM per
    """


register("ext_srm_check", q_ext_srm_check, _srm_oracle())


# ---------------------------------------------------------------------------
# ext_odds_ratio: the 2x2 en x high-quality association panel: odds ratio,
# log-OR with its Woolf (1955) normal-approximation CI halfwidth, and
# relative risk — the epidemiology-style effect readout beside the
# chi-square family.
#
# 2x2 odds-ratio panel: en x high-quality (q6 >= 0.5).


def q_ext_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    en = F.coalesce(F.col("lang") == "en", F.lit(False))
    scored = docs.select(
        en.alias("__en"), (_q6() >= F.lit(0.5)).alias("__hi")
    )
    per = scored.groupBy().agg(
        *[
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)
            for name, cond in (
                ("a", F.col("__en") & F.col("__hi")),
                ("b", F.col("__en") & ~F.col("__hi")),
                ("c", ~F.col("__en") & F.col("__hi")),
                ("d", ~F.col("__en") & ~F.col("__hi")),
            )
        ]
    )
    ad_, bc_ = (
        F.col("a").cast("double") * F.col("d").cast("double"),
        F.col("b").cast("double") * F.col("c").cast("double"),
    )
    orr = ad_ / F.when(bc_ > 0, bc_)
    log_or = F.log(orr)
    inv_sum = sum(
        F.lit(1.0) / F.when(F.col(k) > 0, F.col(k)).cast("double")
        for k in ("a", "b", "c", "d")
    )
    ci = F.lit(_Z975) * F.sqrt(inv_sum)
    r1 = (F.col("a") + F.col("b")).cast("double")
    r0 = (F.col("c") + F.col("d")).cast("double")
    risk1 = F.col("a").cast("double") / F.when(r1 > 0, r1)
    risk0 = F.col("c").cast("double") / F.when(r0 > 0, r0)
    rr = risk1 / F.when(risk0 > 0, risk0)
    return per.select(
        F.col("a").alias("n_en_hi"),
        F.col("b").alias("n_en_lo"),
        F.col("c").alias("n_rest_hi"),
        F.col("d").alias("n_rest_lo"),
        stable_round(orr, 6).alias("odds_ratio"),
        F.when(orr > 0, stable_round(log_or, 6)).alias("log_or"),
        stable_round(ci, 6).alias("ci_log_halfwidth"),
        stable_round(rr, 6).alias("relative_risk"),
    )


def _odds_ratio_oracle() -> str:
    ad_ = "(CAST(a AS DOUBLE) * CAST(d AS DOUBLE))"
    bc_ = "(CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
    orr = f"({ad_} / (CASE WHEN {bc_} > 0 THEN {bc_} END))"
    inv = " + ".join(
        f"1.0 / CAST(CASE WHEN {k} > 0 THEN {k} END AS DOUBLE)"
        for k in "abcd"
    )
    ci = f"({_Z975!r} * sqrt({inv}))"
    r1 = "CAST(a + b AS DOUBLE)"
    r0 = "CAST(c + d AS DOUBLE)"
    risk1 = f"(CAST(a AS DOUBLE) / (CASE WHEN {r1} > 0 THEN {r1} END))"
    risk0 = f"(CAST(c AS DOUBLE) / (CASE WHEN {r0} > 0 THEN {r0} END))"
    rr = f"({risk1} / (CASE WHEN {risk0} > 0 THEN {risk0} END))"
    return f"""
    WITH {_q6_cte()}, scored AS (
        SELECT COALESCE(lang = 'en', FALSE) AS __en,
               (__q6 >= 0.5) AS __hi
        FROM sq
    ), per AS (
        SELECT CAST(SUM(CASE WHEN __en AND __hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN __en AND NOT __hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(CASE WHEN NOT __en AND __hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(SUM(CASE WHEN NOT __en AND NOT __hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM scored
    )
    SELECT a AS n_en_hi, b AS n_en_lo, c AS n_rest_hi, d AS n_rest_lo,
           {stable_round_sql(orr, 6)} AS odds_ratio,
           CASE WHEN {orr} > 0
                THEN {stable_round_sql(f"ln({orr})", 6)} END AS log_or,
           {stable_round_sql(ci, 6)} AS ci_log_halfwidth,
           {stable_round_sql(rr, 6)} AS relative_risk
    FROM per
    """


register("ext_odds_ratio", q_ext_odds_ratio, _odds_ratio_oracle())


# ---------------------------------------------------------------------------
# ext_rater_agreement: multi-rater agreement of three independent binary
# quality raters (length / token-count / sentence-mark rules): Fleiss'
# kappa (Fleiss 1971) and Cochran's Q (Cochran 1950) from ONE (n_pos x
# per-rater-totals) fold — the k-rater generalization of
# ``ext_cohens_kappa`` and the blocked-binary sibling of ``ext_friedman``.
#
# Multi-rater agreement: Fleiss' kappa + Cochran's Q of three binary
# quality raters, from one (n_pos -> counts + per-rater totals) fold.
# With r = 3 raters and 2 categories, item agreement is
# P_i = (n_pos(n_pos-1) + (3-n_pos)(2-n_pos)) / 6 — a pure function of
# n_pos, so the whole corpus collapses to a <= 4-row histogram.


def q_ext_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import token_count

    txt = F.coalesce(F.col("text"), F.lit(""))
    r1 = (F.coalesce(F.col("n_chars"), F.lit(0)) >= 100).cast("int")
    docs = _t(spark, sf_dir, "documents")
    rated = docs.select(
        r1.alias("__r1"),
        (token_count("text") >= 20).cast("int").alias("__r2"),
        (F.instr(txt, ".") > 0).cast("int").alias("__r3"),
    ).select(
        "__r1",
        "__r2",
        "__r3",
        (F.col("__r1") + F.col("__r2") + F.col("__r3")).alias("__np"),
    )
    hist = rated.groupBy("__np").agg(
        F.count(F.lit(1)).cast("long").alias("__c"),
        F.sum("__r1").cast("long").alias("__t1"),
        F.sum("__r2").cast("long").alias("__t2"),
        F.sum("__r3").cast("long").alias("__t3"),
    )
    agree_w = F.col("__np") * (F.col("__np") - 1) + (
        F.lit(3) - F.col("__np")
    ) * (F.lit(2) - F.col("__np"))
    fold = hist.groupBy().agg(
        F.sum("__c").cast("long").alias("n_docs"),
        F.sum(F.col("__c") * agree_w).cast("long").alias("__aw"),
        F.sum(F.col("__c") * F.col("__np")).cast("long").alias("__s1"),
        F.sum(F.col("__c") * F.col("__np") * F.col("__np"))
        .cast("long")
        .alias("__s2"),
        F.sum("__t1").cast("long").alias("r1_pos"),
        F.sum("__t2").cast("long").alias("r2_pos"),
        F.sum("__t3").cast("long").alias("r3_pos"),
    )
    nd = F.col("n_docs").cast("double")
    pbar = F.col("__aw").cast("double") / (F.lit(6.0) * nd)
    p = F.col("__s1").cast("double") / (F.lit(3.0) * nd)
    pe = p * p + (F.lit(1.0) - p) * (F.lit(1.0) - p)
    kden = F.lit(1.0) - pe
    kappa = (pbar - pe) / F.when(kden > 0, kden)
    csq = sum(
        F.col(k).cast("double") * F.col(k).cast("double")
        for k in ("r1_pos", "r2_pos", "r3_pos")
    )
    t = F.col("__s1").cast("double")
    qden = F.lit(3.0) * t - F.col("__s2").cast("double")
    q = F.lit(2.0) * (F.lit(3.0) * csq - t * t) / F.when(qden > 0, qden)
    ok = F.col("n_docs") > 0
    return fold.select(
        "n_docs",
        "r1_pos",
        "r2_pos",
        "r3_pos",
        F.when(ok, stable_round(kappa, 6)).alias("fleiss_kappa"),
        F.when(ok, stable_round(q, 6)).alias("cochran_q"),
    )


def _rater_oracle() -> str:
    nd = "CAST(n_docs AS DOUBLE)"
    pbar = f"(CAST(__aw AS DOUBLE) / (6.0 * {nd}))"
    p = f"(CAST(__s1 AS DOUBLE) / (3.0 * {nd}))"
    pe = f"({p} * {p} + (1.0 - {p}) * (1.0 - {p}))"
    kden = f"(1.0 - {pe})"
    kappa = f"(({pbar} - {pe}) / (CASE WHEN {kden} > 0 THEN {kden} END))"
    csq = " + ".join(
        f"CAST({k} AS DOUBLE) * CAST({k} AS DOUBLE)"
        for k in ("r1_pos", "r2_pos", "r3_pos")
    )
    t = "CAST(__s1 AS DOUBLE)"
    qden = f"(3.0 * {t} - CAST(__s2 AS DOUBLE))"
    q = (
        f"(2.0 * (3.0 * ({csq}) - {t} * {t})"
        f" / (CASE WHEN {qden} > 0 THEN {qden} END))"
    )
    return f"""
    WITH rated AS (
        SELECT CASE WHEN COALESCE(n_chars, 0) >= 100 THEN 1 ELSE 0 END
                   AS r1,
               CASE WHEN len({_TOKS}) >= 20 THEN 1 ELSE 0 END AS r2,
               CASE WHEN instr(COALESCE(text, ''), '.') > 0 THEN 1 ELSE 0
                   END AS r3
        FROM documents
    ), rr AS (SELECT r1, r2, r3, r1 + r2 + r3 AS np FROM rated),
    hist AS (
        SELECT np, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(r1) AS BIGINT) AS t1,
               CAST(SUM(r2) AS BIGINT) AS t2,
               CAST(SUM(r3) AS BIGINT) AS t3
        FROM rr GROUP BY 1
    ), fold AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
               CAST(SUM(c * (np * (np - 1) + (3 - np) * (2 - np)))
                    AS BIGINT) AS __aw,
               CAST(SUM(c * np) AS BIGINT) AS __s1,
               CAST(SUM(c * np * np) AS BIGINT) AS __s2,
               CAST(SUM(t1) AS BIGINT) AS r1_pos,
               CAST(SUM(t2) AS BIGINT) AS r2_pos,
               CAST(SUM(t3) AS BIGINT) AS r3_pos
        FROM hist
    )
    SELECT n_docs, r1_pos, r2_pos, r3_pos,
           CASE WHEN n_docs > 0
                THEN {stable_round_sql(kappa, 6)} END AS fleiss_kappa,
           CASE WHEN n_docs > 0
                THEN {stable_round_sql(q, 6)} END AS cochran_q
    FROM fold
    """


register("ext_rater_agreement", q_ext_rater_agreement, _rater_oracle())


# ---------------------------------------------------------------------------
# ext_hhi: Herfindahl-Hirschman revenue-concentration index per market
# segment across customer nations (Herfindahl 1950; Hirschman 1945) with
# the effective-competitor count 1/HHI — the concentration companion to
# ``ext_source_gini``'s inequality curve.
#
# Herfindahl-Hirschman concentration of revenue across customer nations
# per market segment. Exact cents, each squared share in [0, 1]
# quantized at 12dp before the <= |nations|-row DECIMAL fold.


def q_ext_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    per = (
        orders.select("o_custkey", cents.alias("__c"))
        .filter(F.col("__c").isNotNull())
        .join(
            cust.select(
                F.col("c_custkey").alias("o_custkey"),
                "c_mktsegment",
                "c_nationkey",
            ),
            "o_custkey",
        )
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.sum("__c").cast("long").alias("__cents"))
    )
    tot = per.groupBy("c_mktsegment").agg(
        F.sum("__cents").cast("long").alias("__tot")
    )
    s = F.col("__cents").cast("double") / F.when(
        F.col("__tot") > 0, F.col("__tot")
    ).cast("double")
    folded = (
        per.join(tot, "c_mktsegment")
        .select(
            "c_mktsegment",
            stable_round(s * s, 12).cast("decimal(18,12)").alias("__s2"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.sum("__s2").alias("__hhi"),
        )
    )
    hhi = F.col("__hhi").cast("double")
    eff = F.lit(1.0) / F.when(hhi > 0, hhi)
    return folded.select(
        F.col("c_mktsegment").alias("segment"),
        "n_nations",
        stable_round(hhi, 12).alias("hhi"),
        stable_round(eff, 6).alias("effective_n"),
    )


def _hhi_oracle() -> str:
    s = (
        "(CAST(__cents AS DOUBLE)"
        " / CAST(CASE WHEN __tot > 0 THEN __tot END AS DOUBLE))"
    )
    s2 = stable_round_sql(f"({s} * {s})", 12)
    return f"""
    WITH per AS (
        SELECT c.c_mktsegment, c.c_nationkey,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS __cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice IS NOT NULL
        GROUP BY 1, 2
    ), tot AS (
        SELECT c_mktsegment, CAST(SUM(__cents) AS BIGINT) AS __tot
        FROM per GROUP BY 1
    ), folded AS (
        SELECT per.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               SUM(CAST({s2} AS DECIMAL(18,12))) AS __hhi
        FROM per JOIN tot USING (c_mktsegment)
        GROUP BY 1
    )
    SELECT c_mktsegment AS segment, n_nations,
           {stable_round_sql("CAST(__hhi AS DOUBLE)", 12)} AS hhi,
           {stable_round_sql(
               "(1.0 / (CASE WHEN CAST(__hhi AS DOUBLE) > 0"
               " THEN CAST(__hhi AS DOUBLE) END))",
               6,
           )} AS effective_n
    FROM folded
    """


register("ext_hhi", q_ext_hhi, _hhi_oracle())


# ---------------------------------------------------------------------------
# Two-way ANOVA (lang x source) on the 6dp quality score.


def _term6(s1: str, n: str):
    return stable_round(
        (F.col(s1).cast("double") * F.col(s1).cast("double"))
        / F.col(n).cast("double"),
        6,
    ).cast("decimal(18,6)")


# ext_anova_two_way: lang x source factorial decomposition of the 6dp
# quality score beside ``ext_anova_f``'s one-way omnibus. One exact-moment
# groupBy(lang, source) pass; marginal and grand terms assemble from the
# bounded cell frame with the ext_anova_f quantization discipline
# (per-group s1^2/n terms quantized to DECIMAL(18,6) before cross-group
# sums). The interaction SS uses the sequential identity ss_inter =
# ss_cells - ss_lang - ss_source — exact for balanced designs, the
# Type-I-style "ignoring" decomposition on unbalanced cells (documented;
# it can go negative there, which the readout surfaces rather than
# clamps).
def q_ext_anova_two_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    q6 = (
        stable_round(T.quality_score("text", round_to=None), 6)
        .cast("decimal(18,6)")
        .alias("q6")
    )
    # one corpus pass; the cell frame is |langs x sources| rows and
    # feeds three readouts, hence the lazy checkpoint (mixture_kl
    # discipline)
    cells = (
        docs.select("lang", "source", q6)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_c"),
            F.sum("q6").alias("s1"),
            F.sum(F.col("q6") * F.col("q6")).alias("s2"),
        )
        .localCheckpoint(eager=False)
    )
    la = (
        cells.groupBy("lang")
        .agg(F.sum("n_c").cast("long").alias("n_a"), F.sum("s1").alias("s1_a"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_lang"),
            F.sum(_term6("s1_a", "n_a")).alias("__ta"),
        )
    )
    lb = (
        cells.groupBy("source")
        .agg(F.sum("n_c").cast("long").alias("n_b"), F.sum("s1").alias("s1_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_source"),
            F.sum(_term6("s1_b", "n_b")).alias("__tb"),
        )
    )
    g = cells.agg(
        F.sum("n_c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k_cells"),
        F.sum("s1").alias("__s1"),
        F.sum("s2").alias("__s2"),
        F.sum(_term6("s1", "n_c")).alias("__tc"),
    )
    one = g.crossJoin(F.broadcast(la)).crossJoin(F.broadcast(lb))
    nd = F.col("n").cast("double")
    grand = (
        F.col("__s1").cast("double") * F.col("__s1").cast("double")
    ) / nd
    ss_lang = F.col("__ta").cast("double") - grand
    ss_source = F.col("__tb").cast("double") - grand
    ss_cells = F.col("__tc").cast("double") - grand
    ss_within = F.col("__s2").cast("double") - F.col("__tc").cast("double")
    ss_inter = ss_cells - ss_lang - ss_source
    dof_a = (F.col("k_lang") - 1).cast("long")
    dof_b = (F.col("k_source") - 1).cast("long")
    dof_i = (
        F.col("k_cells") - F.col("k_lang") - F.col("k_source") + 1
    ).cast("long")
    dof_w = (F.col("n") - F.col("k_cells")).cast("long")
    ok_w = (dof_w > 0) & (ss_within > 0)

    def fstat(ss, dof):
        return F.when(
            ok_w & (dof > 0),
            stable_round(
                (ss / dof.cast("double"))
                / (ss_within / dof_w.cast("double")),
                6,
            ),
        )

    return one.select(
        "n",
        "k_lang",
        "k_source",
        "k_cells",
        stable_round(ss_lang, 6).alias("ss_lang"),
        stable_round(ss_source, 6).alias("ss_source"),
        stable_round(ss_inter, 6).alias("ss_inter"),
        stable_round(ss_within, 6).alias("ss_within"),
        fstat(ss_lang, dof_a).alias("f_lang"),
        fstat(ss_source, dof_b).alias("f_source"),
        fstat(ss_inter, dof_i).alias("f_inter"),
    )


def _anova_two_way_oracle() -> str:
    def term(s1: str, n: str) -> str:
        d = exact_dec_double_sql(s1)
        return stable_round_sql(f"({d} * {d} / CAST({n} AS DOUBLE))", 6)

    g1d = exact_dec_double_sql("__s1")
    g2d = exact_dec_double_sql("__s2")
    grand = f"({g1d} * {g1d} / CAST(n AS DOUBLE))"
    ss_lang = f"(CAST(__ta AS DOUBLE) - {grand})"
    ss_source = f"(CAST(__tb AS DOUBLE) - {grand})"
    ss_cells = f"(CAST(__tc AS DOUBLE) - {grand})"
    ss_within = f"({g2d} - CAST(__tc AS DOUBLE))"
    ss_inter = f"({ss_cells} - {ss_lang} - {ss_source})"

    def fstat(ss: str, dof: str) -> str:
        return (
            f"CASE WHEN n > k_cells AND {ss_within} > 0 AND {dof} > 0 "
            f"THEN {stable_round_sql(f'(({ss} / CAST({dof} AS DOUBLE)) / ({ss_within} / CAST(n - k_cells AS DOUBLE)))', 6)} END"
        )

    return f"""
    WITH {qscore_feature_ctes('lang, source')}, sq AS (
        SELECT lang, source,
               CAST({stable_round_sql(_QSCORE_SQL, 6)} AS DECIMAL(18,6)) AS q6
        FROM m
    ), cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_c,
               SUM(q6) AS s1, SUM(q6 * q6) AS s2
        FROM sq GROUP BY lang, source
    ), la AS (
        SELECT lang, CAST(SUM(n_c) AS BIGINT) AS n_a, SUM(s1) AS s1_a
        FROM cells GROUP BY lang
    ), a1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_lang,
               SUM(CAST({term('s1_a', 'n_a')} AS DECIMAL(18,6))) AS __ta
        FROM la
    ), lb AS (
        SELECT source, CAST(SUM(n_c) AS BIGINT) AS n_b, SUM(s1) AS s1_b
        FROM cells GROUP BY source
    ), b1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_source,
               SUM(CAST({term('s1_b', 'n_b')} AS DECIMAL(18,6))) AS __tb
        FROM lb
    ), g AS (
        SELECT CAST(SUM(n_c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k_cells,
               SUM(s1) AS __s1, SUM(s2) AS __s2,
               SUM(CAST({term('s1', 'n_c')} AS DECIMAL(18,6))) AS __tc
        FROM cells
    )
    SELECT n, k_lang, k_source, k_cells,
           {stable_round_sql(ss_lang, 6)} AS ss_lang,
           {stable_round_sql(ss_source, 6)} AS ss_source,
           {stable_round_sql(ss_inter, 6)} AS ss_inter,
           {stable_round_sql(ss_within, 6)} AS ss_within,
           {fstat(ss_lang, '(k_lang - 1)')} AS f_lang,
           {fstat(ss_source, '(k_source - 1)')} AS f_source,
           {fstat(ss_inter, '(k_cells - k_lang - k_source + 1)')} AS f_inter
    FROM g, a1, b1
    """


register("ext_anova_two_way", q_ext_anova_two_way, _anova_two_way_oracle())


# ---------------------------------------------------------------------------
# Two-proportion z-test (A/B conversion)

_AB_SALT = "ab"


# two_proportion_panel: A/B conversion z-test on events — users
# hash-bucketed into two variants (portable md5 bucket, the assign_split
# family), conversion = has a 'purchase' event; pooled two-proportion z.
# Exact BIGINT counts -> single IEEE divisions and ONE sqrt (IEEE-exact in
# both engines); no libm.
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


# fdr_bh_panel: Benjamini-Hochberg step-up over the per-source
# mean-quality z-test family (each source vs its complement, Welch form
# from exact moments). p-values via the Abramowitz-Stegun 26.2.17
# normal-CDF polynomial with the expression TEXT generated once and fed
# verbatim to both engines (the ext_pacf trick); the one libm call (exp)
# is quantized at the source (12dp term, 6dp p) per the ext_zipf_fit
# precedent. BH runs on the |sources|-row frame: rank by p, threshold
# (i/m)*q, reject everything at or below the largest passing rank.
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


register("fdr_bh_panel", fdr_bh_panel, fdr_bh_panel_oracle())
