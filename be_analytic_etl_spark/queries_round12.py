"""Round-12 additions: blocked entity resolution, PACF via
Durbin-Levinson, and a two-way ANOVA decomposition.

- ``ext_entity_resolution``: the full ER pipeline (multi-key blocking ->
  flood-capped candidate join -> thresholded-levenshtein verify ->
  transitive closure) the ``fuzzy_match`` query only previews —
  operators/entity.py, readout per resolved entity.
- ``ext_pacf``: partial autocorrelation of the daily revenue series at
  lags 1..7, the Durbin-Levinson recursion unrolled over ``ext_acf``'s
  exactly-computed autocorrelations. The recursion's expression TEXT is
  generated once and fed verbatim to both engines (Spark ``selectExpr``
  / DuckDB chained CTEs), so the IEEE arithmetic is structurally
  identical by construction.
- ``ext_anova_two_way``: lang x source factorial decomposition of the
  6dp quality score beside ``ext_anova_f``'s one-way omnibus. One
  exact-moment groupBy(lang, source) pass; marginal and grand terms
  assemble from the bounded cell frame with the ext_anova_f
  quantization discipline (per-group s1^2/n terms quantized to
  DECIMAL(18,6) before cross-group sums). The interaction SS uses the
  sequential identity ss_inter = ss_cells - ss_lang - ss_source —
  exact for balanced designs, the Type-I-style "ignoring" decomposition
  on unbalanced cells (documented; it can go negative there, which the
  readout surfaces rather than clamps).

Scale notes: ER shuffles md5 block keys and (id, label) longs only, the
candidate join is per-block bounded; PACF folds the corpus once into the
calendar-bounded daily frame and the recursion runs on ONE row; the
ANOVA corpus work is one groupBy over ~|langs x sources| cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.rounding import (
    exact_dec_double_sql,
    stable_round,
    stable_round_sql,
)
from be_analytic_etl_spark.operators import textstats as T
from be_analytic_etl_spark.queries_extensions import _t, _toks_sql
from be_analytic_etl_spark.registry import register

# ---------------------------------------------------------------------------
# Blocked entity resolution over the part-name vocabulary (aggregate
# FIRST: names repeat per fact row; ER operates on the distinct
# vocabulary at any scale). Readout: one row per resolved entity with
# its member count and the canonical (min-id) name — singletons
# included, so the result is a total relabeling of the vocabulary.

from be_analytic_etl_spark.operators.entity import (  # noqa: E402
    MAX_NAME_LEN as _ER_MAX_NAME_LEN,
)

_ER_THRESHOLD = 3
_ER_MAX_BLOCK = 1000


def q_ext_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.entity import resolve_entities

    vocab = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("id"))
        .select("id", F.col("p_name").alias("name"))
    )
    labeled = resolve_entities(
        vocab, threshold=_ER_THRESHOLD, max_block=_ER_MAX_BLOCK
    )
    return labeled.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_names"),
        F.min(
            F.when(F.col("id") == F.col("entity_id"), F.col("name"))
        ).alias("canonical_name"),
    )


def _entity_resolution_oracle() -> str:
    return f"""
    WITH RECURSIVE
    vocab AS (
        SELECT MIN(p_partkey) AS id, p_name AS name
        FROM part GROUP BY p_name
    ),
    tk AS (
        -- the ER flood guard (operators/entity.py MAX_NAME_LEN):
        -- oversized non-names never block, staying singleton entities
        SELECT id, name, length(name) AS ln,
               {_toks_sql('name')} AS toks
        FROM vocab
        WHERE length(name) <= {_ER_MAX_NAME_LEN}
    ),
    keyed AS (
        SELECT DISTINCT id, name, ln, md5(k) AS bk
        FROM (
            SELECT id, name, ln, toks[1] AS k FROM tk
            UNION ALL
            SELECT id, name, ln, toks[-1] AS k FROM tk
        ) u
        WHERE k IS NOT NULL
    ),
    kept AS (
        SELECT bk FROM keyed GROUP BY bk
        HAVING COUNT(*) <= {_ER_MAX_BLOCK}
    ),
    cand AS (
        SELECT DISTINCT a.id AS ia, a.name AS na, b.id AS ib, b.name AS nb
        FROM keyed a
        JOIN kept USING (bk)
        JOIN keyed b USING (bk)
        WHERE a.id < b.id AND abs(a.ln - b.ln) <= {_ER_THRESHOLD}
    ),
    matched AS (
        SELECT ia, ib FROM cand
        WHERE levenshtein(na, nb) <= {_ER_THRESHOLD}
    ),
    sym AS (SELECT ia AS s, ib AS d FROM matched
            UNION SELECT ib, ia FROM matched),
    reach(s, d) AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    ),
    lab AS (
        SELECT v.id, v.name,
               LEAST(v.id, COALESCE(MIN(r.d), v.id)) AS entity_id
        FROM vocab v LEFT JOIN reach r ON r.s = v.id
        GROUP BY v.id, v.name
    )
    SELECT entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_names,
           MIN(CASE WHEN id = entity_id THEN name END) AS canonical_name
    FROM lab GROUP BY entity_id
    """


register(
    "ext_entity_resolution",
    q_ext_entity_resolution,
    _entity_resolution_oracle(),
)


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


def q_ext_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.queries_round8 import q_ext_acf

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
    from be_analytic_etl_spark.queries_round8 import _acf_oracle

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
# Two-way ANOVA (lang x source) on the 6dp quality score.


def _term6(s1: str, n: str):
    return stable_round(
        (F.col(s1).cast("double") * F.col(s1).cast("double"))
        / F.col(n).cast("double"),
        6,
    ).cast("decimal(18,6)")


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
    from be_analytic_etl_spark.queries_analytics import (
        _QSCORE_SQL,
        qscore_feature_ctes,
    )

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
