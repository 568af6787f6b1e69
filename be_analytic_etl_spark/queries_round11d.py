"""Round-11 extension queries, batch 3: corpus-curation / embedding /
concentration analytics:

- ``ext_gopher_rules``: the Gopher/MassiveText quality-filter panel
  (Rae et al., "Scaling Language Models: ... Gopher", 2021, Table A1):
  per-rule violation counts for word-count bounds, mean-word-length
  bounds, symbol ratio, alphabetic-word ratio, and the English
  stop-token requirement, plus the all-rules pass rate — the
  rule-based companion to ``ext_c4_filter``'s boilerplate rules and
  ``ext_quality_classifier``'s learned score.
- ``ext_negative_sampling``: word2vec-style negative-sampling table
  (Mikolov et al., NeurIPS 2013): unigram counts raised to the 3/4
  power — computed as sqrt(sqrt(c^3)), sqrt being IEEE-correctly-
  rounded, so NO libm-divergent pow anywhere — with each token's
  normalized sampling share; top-20 by frequency.
- ``ext_capture_recapture``: Lincoln-Petersen / Chapman (1951)
  mark-recapture estimate of TOTAL vocabulary from the two hash-split
  document halves — the sampling-theory companion to
  ``ext_chao1_vocab``'s abundance-based estimator.
- ``ext_mattr``: Moving-Average Type-Token Ratio (Covington &
  McFall, J. Quant. Linguistics 2010), window 25, per language —
  computed WITHOUT materializing any window: a token occurrence is a
  new type in window s iff its previous occurrence precedes s, so its
  total contribution over all windows is a closed-form interval
  length from ONE LAG(pos) pass; the corpus-scale form of a
  statistic usually written with per-window distinct counts.
- ``ext_random_projection``: Johnson-Lindenstrauss sign random
  projection (Achlioptas, JCSS 2003) of the 64-d embeddings to k = 8
  via a HOST-generated +-1 matrix embedded as identical literals in
  both engines; per-label projected centroid and the norm-
  preservation ratio E[|y|^2]/(k |v|^2) ~ 1 that makes JL usable as
  the cheap pre-ANN dimensionality reduction.
- ``ext_hhi``: Herfindahl-Hirschman revenue-concentration index per
  market segment across customer nations (Herfindahl 1950; Hirschman
  1945) with the effective-competitor count 1/HHI — the
  concentration companion to ``ext_source_gini``'s inequality curve.

Scale shapes: one partial-aggregated corpus pass each (token aggs,
per-(segment, nation) cents, one LAG over (doc, token) positions); the
MATTR trick removes the only would-be quadratic (per-window distinct)
entirely. Fold terms normalized into [0, 1] quantize at 12dp before
DECIMAL sums; sqrt-only tails; divisions guarded at the division.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.rounding import (
    stable_round,
    stable_round_sql,
)
from be_analytic_etl_spark.operators.textstats import WS_CHARS
from be_analytic_etl_spark.queries_extensions import _TOKS, _t
from be_analytic_etl_spark.registry import register

# ---------------------------------------------------------------------------
# Gopher rule panel. Rules (Rae et al. 2021, A1.1, bounds adapted to
# the synthetic corpus scale): word count in [10, 100000]; mean word
# length in [3, 10]; symbol (non-alphanumeric, non-space) character
# ratio <= 0.1; >= 80% of words contain an alphabetic character;
# document contains >= 2 distinct English stop tokens.

_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def q_ext_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import tokenize

    docs = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    toks = docs.select(
        tokenize("text").alias("__tk"),
        F.length(txt).alias("__nc"),
        F.length(
            # explicit whitespace class, not \s: Java's \s includes \x0B
            # (vertical tab) while RE2's does not (ADVICE r11 #2)
            F.regexp_replace(txt, "[A-Za-z0-9" + WS_CHARS + "]", "")
        ).alias("__sym"),
    ).select(
        F.size("__tk").alias("__nt"),
        F.expr(
            "aggregate(__tk, 0L, (acc, t) -> acc + length(t))"
        ).alias("__tchars"),
        F.expr(
            "size(filter(__tk, t -> t rlike '[A-Za-z]'))"
        ).alias("__alpha"),
        F.size(
            F.array_intersect(
                "__tk",
                F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
            )
        ).alias("__stops"),
        "__nc",
        "__sym",
    )
    # each rule is an exact-integer predicate: ratios compare cross-
    # multiplied (10 * sym <= nc, 10 * alpha >= 8 * nt, 3nt <= chars
    # <= 10nt) so no division ever runs.
    r_wc = (F.col("__nt") >= 10) & (F.col("__nt") <= 100000)
    r_mwl = (F.col("__tchars") >= 3 * F.col("__nt")) & (
        F.col("__tchars") <= 10 * F.col("__nt")
    )
    r_sym = F.lit(10) * F.col("__sym") <= F.col("__nc")
    r_alpha = F.lit(10) * F.col("__alpha") >= F.lit(8) * F.col("__nt")
    r_stop = F.col("__stops") >= 2
    rules = {
        "wordcount": r_wc,
        "mean_word_len": r_mwl,
        "symbol_ratio": r_sym,
        "alpha_words": r_alpha,
        "stop_tokens": r_stop,
    }
    flags = toks.select(
        *[
            F.coalesce(c, F.lit(False)).cast("int").alias(f"__{n}")
            for n, c in rules.items()
        ]
    )
    passes = F.lit(1)
    for n in rules:
        passes = passes * F.col(f"__{n}")
    agg = flags.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum(F.col(f"__{n}")).cast("long").alias(f"pass_{n}")
            for n in rules
        ],
        F.sum(passes).cast("long").alias("pass_all"),
    )
    rate = F.col("pass_all").cast("double") / F.when(
        F.col("n_docs") > 0, F.col("n_docs")
    ).cast("double")
    return agg.select(
        "n_docs",
        *[f"pass_{n}" for n in rules],
        "pass_all",
        stable_round(rate, 12).alias("pass_rate"),
    )


def _gopher_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)
    rate = stable_round_sql(
        "(CAST(pass_all AS DOUBLE)"
        " / CAST(CASE WHEN n_docs > 0 THEN n_docs END AS DOUBLE))",
        12,
    )
    return f"""
    WITH t AS (
        SELECT {_TOKS.replace("text", "COALESCE(text, '')")} AS tk,
               len(COALESCE(text, '')) AS nc,
               len(regexp_replace(COALESCE(text, ''),
                                  '[A-Za-z0-9{WS_CHARS}]', '', 'g')) AS sym
        FROM documents
    ), m AS (
        SELECT len(tk) AS nt,
               list_reduce([0] || list_transform(tk, x -> len(x)),
                           (a, b) -> a + b) AS tchars,
               len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
                   AS alpha,
               len(list_intersect(tk, [{stops}])) AS stops,
               nc, sym
        FROM t
    ), flags AS (
        SELECT CASE WHEN COALESCE(nt >= 10 AND nt <= 100000, FALSE)
                    THEN 1 ELSE 0 END AS f_wc,
               CASE WHEN COALESCE(tchars >= 3 * nt AND tchars <= 10 * nt,
                                  FALSE) THEN 1 ELSE 0 END AS f_mwl,
               CASE WHEN COALESCE(10 * sym <= nc, FALSE)
                    THEN 1 ELSE 0 END AS f_sym,
               CASE WHEN COALESCE(10 * alpha >= 8 * nt, FALSE)
                    THEN 1 ELSE 0 END AS f_alpha,
               CASE WHEN COALESCE(stops >= 2, FALSE)
                    THEN 1 ELSE 0 END AS f_stop
        FROM m
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(f_wc) AS BIGINT) AS pass_wordcount,
           CAST(SUM(f_mwl) AS BIGINT) AS pass_mean_word_len,
           CAST(SUM(f_sym) AS BIGINT) AS pass_symbol_ratio,
           CAST(SUM(f_alpha) AS BIGINT) AS pass_alpha_words,
           CAST(SUM(f_stop) AS BIGINT) AS pass_stop_tokens,
           CAST(SUM(f_wc * f_mwl * f_sym * f_alpha * f_stop) AS BIGINT)
               AS pass_all,
           {rate} AS pass_rate
    FROM flags
    """


register("ext_gopher_rules", q_ext_gopher_rules, _gopher_oracle())


# ---------------------------------------------------------------------------
# word2vec negative-sampling table: w = count^(3/4) via sqrt(sqrt(c^3)).
# c^3 is a fixed IEEE product chain and sqrt is correctly rounded, so
# the weight is bit-identical in any IEEE engine at ANY count magnitude
# — no pow, no ln/exp. Shares quantize at 6dp into the DECIMAL total.


def q_ext_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import tokenize

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokenize("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)  # feeds the total AND the top-k
    )
    cd = F.col("c").cast("double")
    w = stable_round(F.sqrt(F.sqrt(cd * cd * cd)), 6)
    weighted = counts.select("tok", "c", w.alias("w"))
    tot = weighted.agg(
        F.sum(F.col("w").cast("decimal(18,6)")).alias("__tw")
    )
    w_rank = Window.orderBy(F.col("c").desc(), F.col("tok"))
    return (
        weighted.crossJoin(F.broadcast(tot))
        .withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") <= 20)
        .select(
            "tok",
            "c",
            "w",
            stable_round(
                F.col("w")
                / F.when(F.col("__tw") > 0, F.col("__tw")).cast("double"),
                12,
            ).alias("neg_share"),
        )
    )


def _neg_sampling_oracle() -> str:
    w = stable_round_sql(
        "sqrt(sqrt(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)"
        " * CAST(c AS DOUBLE)))",
        6,
    )
    share = stable_round_sql(
        "(w / CAST(CASE WHEN __tw > 0 THEN __tw END AS DOUBLE))", 12
    )
    return f"""
    WITH toks AS (
        SELECT unnest({_TOKS}) AS tok FROM documents
    ), counts AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1
    ), weighted AS (
        SELECT tok, c, {w} AS w FROM counts
    ), tot AS (
        SELECT SUM(CAST(w AS DECIMAL(18,6))) AS __tw FROM weighted
    ), ranked AS (
        SELECT tok, c, w, __tw,
               row_number() OVER (ORDER BY c DESC, tok) AS rn
        FROM weighted, tot
    )
    SELECT tok, c, w, {share} AS neg_share
    FROM ranked WHERE rn <= 20
    """


register(
    "ext_negative_sampling", q_ext_negative_sampling, _neg_sampling_oracle()
)


# ---------------------------------------------------------------------------
# Lincoln-Petersen / Chapman mark-recapture vocabulary estimate from
# the even/odd doc_id halves: one token pass -> per-token presence
# flags -> exact counts -> closed-form estimators.


def q_ext_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import tokenize

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    flags = (
        docs.select(
            (F.col("doc_id") % 2 == 0).cast("int").alias("__even"),
            F.explode(tokenize("text")).alias("tok"),
        )
        .groupBy("tok")
        .agg(
            F.max("__even").alias("__a"),
            F.max(F.lit(1) - F.col("__even")).alias("__b"),
        )
    )
    agg = flags.groupBy().agg(
        F.sum("__a").cast("long").alias("n1"),
        F.sum("__b").cast("long").alias("n2"),
        F.sum(F.col("__a") * F.col("__b")).cast("long").alias("m"),
        F.count(F.lit(1)).cast("long").alias("vocab_observed"),
    )
    lp = (
        F.col("n1").cast("double")
        * F.col("n2").cast("double")
        / F.when(F.col("m") > 0, F.col("m")).cast("double")
    )
    chap = (
        (F.col("n1") + 1).cast("double")
        * (F.col("n2") + 1).cast("double")
        / (F.col("m") + 1).cast("double")
        - F.lit(1.0)
    )
    return agg.select(
        F.col("n1").alias("vocab_even"),
        F.col("n2").alias("vocab_odd"),
        F.col("m").alias("vocab_both"),
        "vocab_observed",
        stable_round(lp, 6).alias("lp_estimate"),
        stable_round(chap, 6).alias("chapman_estimate"),
    )


def _capture_oracle() -> str:
    lp = (
        "(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
        " / CAST(CASE WHEN m > 0 THEN m END AS DOUBLE))"
    )
    chap = (
        "(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)"
        " / CAST(m + 1 AS DOUBLE) - 1.0)"
    )
    return f"""
    WITH toks AS (
        SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS even,
               unnest({_TOKS}) AS tok
        FROM documents WHERE doc_id IS NOT NULL
    ), flags AS (
        SELECT tok, MAX(even) AS a, MAX(1 - even) AS b
        FROM toks GROUP BY 1
    ), agg AS (
        SELECT CAST(SUM(a) AS BIGINT) AS n1,
               CAST(SUM(b) AS BIGINT) AS n2,
               CAST(SUM(a * b) AS BIGINT) AS m,
               CAST(COUNT(*) AS BIGINT) AS vocab_observed
        FROM flags
    )
    SELECT n1 AS vocab_even, n2 AS vocab_odd, m AS vocab_both,
           vocab_observed,
           {stable_round_sql(lp, 6)} AS lp_estimate,
           {stable_round_sql(chap, 6)} AS chapman_estimate
    FROM agg
    """


register(
    "ext_capture_recapture", q_ext_capture_recapture, _capture_oracle()
)


# ---------------------------------------------------------------------------
# MATTR without windows: with w = 25, token occurrence p (0-based) of a
# doc with n tokens and previous same-token position prev (-1 if none)
# is counted as a distinct type by exactly the windows
# s in [max(p-w+1, prev+1), min(p, n-w)] — so the summed distinct count
# over ALL windows is SUM(max(0, min(p, n-w) - max(p-w+1, prev+1) + 1))
# from one LAG pass, and MATTR = that sum / (w * n_windows). No arrays,
# no per-window state, exact integers end to end.

_MATTR_W = 25


def q_ext_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.posexplode(tokenize("text")).alias("__p", "__tok"),
    )
    w_tok = Window.partitionBy("doc_id", "__tok").orderBy("__p")
    w_doc = Window.partitionBy("doc_id")
    t = toks.select(
        "doc_id",
        "lang",
        "__p",
        F.coalesce(F.lag("__p").over(w_tok), F.lit(-1)).alias("__prev"),
        F.count(F.lit(1)).over(w_doc).cast("long").alias("__n"),
    )
    w = F.lit(_MATTR_W)
    contrib = F.greatest(
        F.lit(0).cast("long"),
        (
            F.least(F.col("__p").cast("long"), F.col("__n") - w)
            - F.greatest(
                F.col("__p").cast("long") - w + 1, F.col("__prev") + 1
            )
            + 1
        ).cast("long"),
    )
    per_doc = t.groupBy("lang", "doc_id").agg(
        F.max("__n").alias("__n"),
        F.sum(contrib).cast("long").alias("__distinct_sum"),
    )
    per_lang = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.greatest(F.col("__n") - w + 1, F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("n_windows"),
        F.sum("__distinct_sum").cast("long").alias("__ds"),
    )
    mattr = F.col("__ds").cast("double") / (
        F.lit(float(_MATTR_W))
        * F.when(F.col("n_windows") > 0, F.col("n_windows")).cast("double")
    )
    return per_lang.select(
        "lang", "n_docs", "n_windows", stable_round(mattr, 12).alias("mattr")
    )


def _mattr_oracle() -> str:
    w = _MATTR_W
    mattr = stable_round_sql(
        f"(CAST(__ds AS DOUBLE) / ({float(w)!r}"
        " * CAST(CASE WHEN n_windows > 0 THEN n_windows END AS DOUBLE)))",
        12,
    )
    return f"""
    WITH tk AS (
        SELECT doc_id, lang, {_TOKS} AS tk FROM documents
    ), toks AS (
        SELECT doc_id, lang,
               CAST(u.u['p'] AS BIGINT) - 1 AS p,
               CAST(u.u['t'] AS VARCHAR) AS tok
        FROM (
            SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(tk) + 1),
                          i -> {{'p': i, 't': tk[i]}})) AS u
            FROM tk
        ) u
    ), t AS (
        SELECT doc_id, lang, p,
               COALESCE(LAG(p) OVER (PARTITION BY doc_id, tok ORDER BY p),
                        -1) AS prev,
               CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        FROM toks
    ), contrib AS (
        SELECT doc_id, lang, n,
               GREATEST(0, LEAST(p, n - {w})
                           - GREATEST(p - {w} + 1, prev + 1) + 1) AS c
        FROM t
    ), per_doc AS (
        SELECT lang, doc_id, MAX(n) AS n,
               CAST(SUM(c) AS BIGINT) AS ds
        FROM contrib GROUP BY 1, 2
    ), per_lang AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(GREATEST(n - {w} + 1, 0)) AS BIGINT) AS n_windows,
               CAST(SUM(ds) AS BIGINT) AS __ds
        FROM per_doc GROUP BY 1
    )
    SELECT lang, n_docs, n_windows, {mattr} AS mattr
    FROM per_lang
    """


register("ext_mattr", q_ext_mattr, _mattr_oracle())


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection, 64 -> 8. The +-1 matrix is
# generated HOST-side (md5 parity, seed 'rp') and embedded as identical
# literals in both plans, like every engine-external constant.

_RP_K = 8
_RP_D = 64
_RP_SIGNS = [
    [
        1.0
        if int(
            hashlib.md5(f"rp|{i}|{j}".encode()).hexdigest()[:2], 16
        )
        % 2
        == 0
        else -1.0
        for i in range(_RP_D)
    ]
    for j in range(_RP_K)
]


def q_ext_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # posexplode + decimal-quantized partial agg (the ext_embedding_stats
    # shape): per-dim products quantize at 9dp so the per-vector sums are
    # order-free and codegen-compiled — the higher-order-function fold
    # form ran interpreted and 6x slower at sf0.1 (13.3 s vs ~2 s).
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == _RP_D
    )
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("__pos", "__v"),
    )
    vd = F.col("__v").cast("double")

    def sgn(j: int) -> F.Column:
        # +-1 as INT: the signed term is then round9(v) * s — exact
        # decimal algebra, one rounding per row instead of one per
        # projection (round9(v)*s vs round9(v*s) differ only at exact
        # half-ulp ties, and the oracle mirrors this form verbatim).
        # q is DECIMAL(18,9), NOT wider: a (28,9) x INT product crosses
        # Spark's 38-precision cap and silently truncates the scale to
        # 8 (caught live by the sf0.001 hash; the class-7 narrowing
        # rule).
        arr = "array(" + ",".join(
            str(int(s)) for s in _RP_SIGNS[j]
        ) + ")"
        return F.expr(f"element_at({arr}, __pos + 1)")

    q9 = stable_round(vd, 9).cast("decimal(18,9)")
    quantized = ex.select(
        "vec_id",
        "label",
        q9.alias("__q"),
        stable_round(vd * vd, 9).cast("decimal(18,9)").alias("__qq"),
        "__pos",
    )
    per_vec = quantized.groupBy("vec_id", "label").agg(
        F.sum("__qq").alias("__v2"),
        *[
            F.sum(F.col("__q") * sgn(j)).alias(f"__y{j}")
            for j in range(_RP_K)
        ],
    )
    yd = [F.col(f"__y{j}").cast("double") for j in range(_RP_K)]
    y2 = yd[0] * yd[0]
    for j in range(1, _RP_K):
        y2 = y2 + yd[j] * yd[j]
    v2d = F.col("__v2").cast("double")
    ratio = y2 / (F.lit(float(_RP_K)) * F.when(v2d > 0, v2d))
    quant = per_vec.select(
        "label",
        stable_round(ratio, 12).cast("decimal(18,12)").alias("__r"),
        *[
            stable_round(yd[j], 6).cast("decimal(18,6)").alias(f"__q{j}")
            for j in range(_RP_K)
        ],
    )
    agg = quant.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("__r").alias("__rs"),
        *[F.sum(f"__q{j}").alias(f"__qs{j}") for j in range(_RP_K)],
    )
    nd = F.col("n_vecs").cast("double")
    return agg.select(
        "label",
        "n_vecs",
        stable_round(F.col("__rs").cast("double") / nd, 6).alias(
            "norm_ratio_mean"
        ),
        *[
            stable_round(F.col(f"__qs{j}").cast("double") / nd, 6).alias(
                f"y{j}_mean"
            )
            for j in range(_RP_K)
        ],
    )


def _random_projection_oracle() -> str:
    sgn_arrs = {
        j: "[" + ",".join(str(int(s)) for s in _RP_SIGNS[j]) + "]"
        for j in range(_RP_K)
    }
    ysums = ", ".join(
        f"SUM(q * ({sgn_arrs[j]}[pos + 1])) AS __y{j}"
        for j in range(_RP_K)
    )
    y2 = " + ".join(
        f"CAST(__y{j} AS DOUBLE) * CAST(__y{j} AS DOUBLE)"
        for j in range(_RP_K)
    )
    ratio = (
        f"(({y2}) / ({float(_RP_K)!r} * CAST(CASE WHEN"
        " CAST(__v2 AS DOUBLE) > 0 THEN CAST(__v2 AS DOUBLE) END"
        " AS DOUBLE)))"
    )
    qcols = ", ".join(
        f"CAST({stable_round_sql(f'CAST(__y{j} AS DOUBLE)', 6)}"
        f" AS DECIMAL(18,6)) AS __q{j}"
        for j in range(_RP_K)
    )
    qsums = ", ".join(f"SUM(__q{j}) AS __qs{j}" for j in range(_RP_K))
    ymeans = ", ".join(
        stable_round_sql(
            f"(CAST(__qs{j} AS DOUBLE) / CAST(n_vecs AS DOUBLE))", 6
        )
        + f" AS y{j}_mean"
        for j in range(_RP_K)
    )
    return f"""
    WITH ex0 AS (
        SELECT vec_id, label,
               CAST(u.u['p'] AS INTEGER) - 1 AS pos,
               CAST(u.u['x'] AS DOUBLE) AS v
        FROM (
            SELECT vec_id, label,
                   unnest(list_transform(range(1, len(embedding) + 1),
                          i -> {{'p': i, 'x': embedding[i]}})) AS u
            FROM embeddings WHERE len(embedding) = {_RP_D}
        ) u
    ), ex AS (
        SELECT vec_id, label, pos,
               CAST({stable_round_sql("v", 9)} AS DECIMAL(18,9)) AS q,
               CAST({stable_round_sql("(v * v)", 9)}
                    AS DECIMAL(18,9)) AS qq
        FROM ex0
    ), per_vec AS (
        SELECT vec_id, label,
               SUM(qq) AS __v2,
               {ysums}
        FROM ex GROUP BY 1, 2
    ), quant AS (
        SELECT label,
               CAST({stable_round_sql(ratio, 12)} AS DECIMAL(18,12)) AS __r,
               {qcols}
        FROM per_vec
    ), agg AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               SUM(__r) AS __rs, {qsums}
        FROM quant GROUP BY 1
    )
    SELECT label, n_vecs,
           {stable_round_sql(
               "(CAST(__rs AS DOUBLE) / CAST(n_vecs AS DOUBLE))", 6
           )} AS norm_ratio_mean,
           {ymeans}
    FROM agg
    """


register(
    "ext_random_projection",
    q_ext_random_projection,
    _random_projection_oracle(),
)


# ---------------------------------------------------------------------------
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
