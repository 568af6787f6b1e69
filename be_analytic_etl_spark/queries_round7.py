"""Round-7 extension queries.

Evaluation-statistics siblings and the remaining sketch/dedup gaps the
round-6 verdict named:

- ``ext_reliability_bins`` / ``ext_calibration_ece``: reliability
  diagram + expected/maximum calibration error for the quality
  classifier (Guo et al., ICML 2017; Naeini et al., AAAI 2015) — the
  natural companions to ``ext_roc_auc``: AUC says the score RANKS
  well, ECE says its VALUE can be read as a probability.
- ``ext_cohens_kappa``: chance-corrected agreement (Cohen, 1960)
  between the stored ``lang`` label and the marker-based ``lang_id``
  prediction — the honest version of the raw ``langid_agreement``
  rate, which a majority-class rater can fake.
- ``ext_heavy_hitters``: exact heavy hitters over the token stream via
  per-partition Misra–Gries candidates + exact recount
  (Misra & Gries 1982; merge rule per Agarwal et al., PODS 2012) —
  completes the sketches family (HLL, count-min, quantiles, now
  frequent items).
- ``ext_robust_stats``: trimmed + winsorized means per order priority
  from a bounded value histogram — rank statistics without a per-group
  corpus sort.
- ``ext_substring_dedup``: alignment-free exact-substring duplication
  coverage (Lee et al., ACL 2022 ExactSubstr), stride-1 spans —
  closes the gap between chunk dedup (disjoint) and the strided
  ``ext_window_dedup`` (alignment-dependent).
- ``ext_welch_ttest`` / ``ext_ks_test``: is source A's quality
  distribution actually different from source B's — parametric
  (Welch 1947) and distribution-free (Kolmogorov–Smirnov) forms.
- ``ext_chi2_independence`` / ``ext_mutual_information``: source x
  language association — the contingency diagnostics behind "is this
  source just the French crawl again".
- ``ext_spearman_corr``: rank correlation between document length in
  tokens and in chars — monotone-association without Pearson's
  normality assumption, computed from average ranks over bounded value
  histograms (never a corpus-wide row sort).
- ``ext_hill_tail``: Hill tail-index estimator over the top-k order
  statistics, read off the same bounded value histogram — heavy-tail
  diagnostics without a corpus sort.
- ``ext_gpd_tail``: GPD peaks-over-threshold method-of-moments fit
  (xi, beta) from exact excess moments over the same histogram — the
  extreme-value companion that also covers non-power-law tails.
- ``ext_jensen_shannon``: per-source JSD (bits) vs the corpus token
  blend — the symmetric, bounded drift gauge beside ``ext_mixture_kl``;
  tokens a source lacks fold into one exact covered-mass term instead
  of enumerating the complement vocabulary.

Float discipline (SCALE.md, all five divergence classes checked): every
corpus-sized accumulation is BIGINT/DECIMAL exact; libm terms (log2)
quantize via ``stable_round`` to DECIMAL(18,6) BEFORE any sum
(mixture_kl precedent); unbounded exact accumulators cast to double
through ``exact_dec_double_sql`` on the oracle side (HUGEINT-band
convention); multi-op IEEE tails are written with identical op order on
both sides and quantized at the source where they end in an emission.
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
from be_analytic_etl_spark.queries_extensions import _t, _TOKS
from be_analytic_etl_spark.registry import register

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
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

    return (
        f"WITH {qscore_feature_ctes('doc_id')}, sc AS ("
        f" SELECT CAST({stable_round_sql(_QSCORE_SQL, 6)} AS DECIMAL(18,6)) AS score,"
        f" CASE WHEN n_chars >= {_CAL_LEN_THRESHOLD} THEN 1 ELSE 0 END AS pos"
        f" FROM m)"
    )


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
# Alignment-free exact-substring duplication coverage (operators/dedup
# .exact_substring_coverage): stride-1 12-token spans, global span
# counts via checkpoint -> groupBy -> join-back, per-doc covered-token
# union via LAG over (doc, start). See the operator docstring for the
# 100 TB shape argument.
_SUB_W = 12


def q_ext_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.dedup import exact_substring_coverage

    docs = _t(spark, sf_dir, "documents")
    return exact_substring_coverage(docs, "text", "doc_id", window=_SUB_W)


def _substring_dedup_oracle() -> str:
    from be_analytic_etl_spark.operators.dedup import (
        exact_substring_coverage_sql,
    )

    return exact_substring_coverage_sql(_TOKS, window=_SUB_W)


register("ext_substring_dedup", q_ext_substring_dedup, _substring_dedup_oracle())


# ---------------------------------------------------------------------------
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
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

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
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

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
