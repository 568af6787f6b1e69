"""Month-over-month variation-rate pivot — the flagship analytical plan.

Re-expresses the reference's ``consolidacao_de_metricas`` PostgreSQL view
(``/root/reference/README.md:119-213``) as one declarative DataFrame chain:

    scan -> [filter] -> groupBy(time, group).avg(value)          (README.md:138,145)
         -> LAG over (PARTITION BY group ORDER BY time)          (README.md:139-142)
         -> filter prev IS NOT NULL AND prev != 0                (README.md:149-150)
         -> taxa_var = ROUND((cur-prev)/NULLIF(prev,0)*100, 1)   (README.md:126-131)
         -> groupBy(time): AVG(taxa_var),
            conditional-agg pivot per group + COALESCE/ROUND,    (README.md:167-182)
            per-group diff columns,                              (README.md:186-203)
            HAVING COUNT(DISTINCT group) >= 2                    (README.md:209-211)
         -> project date_format(time,'yyyy-MM'), sort DESC       (README.md:156,213)

Scale notes (100 TB design review):
- Small input, one task: when Spark estimates the input within
  ``spark.sql.autoBroadcastJoinThreshold`` (``session.fits_one_task``) it
  is coalesced to one partition, and the aggregates, the window and the
  sort run in that one task with no exchange. ``create_consolidacao_view``
  registers the fact gated the same way. ``-1`` switches the gate off.
- Above the threshold, the distributed plan: a hash-partition on
  (time, group) for the first aggregate, one on (group) for the window
  and one on (time) for the final per-time aggregate, which reuses partial
  (map-side) aggregation. The window partitions by *group* — cardinality =
  number of economic groups/priorities, so at huge scale the window input
  is already tiny (|groups| x |months| rows after agg #1).
- On both paths the month-level result (one row per month) is coalesced
  to one partition before the final sort (``COALESCE(1)`` hint in the SQL
  text), so the sort needs no range exchange and no sample job.
- The pivot is conditional aggregation in a single groupBy pass (one
  shuffle), not ``df.groupBy().pivot()``'s two-pass value discovery —
  pivot values are declared, matching the reference's static CASE list.
- Everything is native Column expressions: whole-stage codegen end to end.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.session import single_task_if_small
from be_analytic_etl_spark.sources.tables import load_table


def _nullif(c: Column, v: Column) -> Column:
    return F.when(c == v, F.lit(None)).otherwise(c)


def mom_variation_pivot(
    df: DataFrame,
    *,
    time_col: str,
    group_col: str,
    value_col: str,
    pivot: Mapping[str, str],
    time_format: str = "yyyy-MM",
    out_time_col: str = "mes",
    out_avg_col: str = "taxa_media",
    min_distinct_groups: int = 2,
    value_decimal: str = "decimal(28,6)",
    reference_rounding: bool = False,
) -> DataFrame:
    """Generic month-over-month variation pivot (see module docstring).

    Parameters
    ----------
    df : input fact DataFrame (already filtered to the metric of interest)
    time_col : truncated period column (e.g. month start, DateType/Timestamp)
    group_col : the entity column (economic group / order priority / ...)
    value_col : the numeric measure
    pivot : mapping {group value -> output column name}; each group gets a
        value column and a ``<name>_diff`` column
    value_decimal : decimal type wide enough to hold value_col exactly — the
        first-level mean is computed as exact-decimal SUM / COUNT so the
        result is one IEEE division, bit-identical regardless of partial-
        aggregation merge order (plain AVG(double) is shuffle-fetch-order
        dependent, which flips ROUND ties run-to-run AND across engines).
    reference_rounding : True replicates the reference view bit-for-bit
        (taxa_var rounded to 1dp before the second-level average,
        README.md:126-131). Default False keeps taxa_var unrounded: rounding
        a value whose decimal expansion terminates at the tie digit (which
        averages of 1dp-rounded values routinely are) is engine-dependent —
        Spark rounds the shortest decimal repr HALF_UP while other engines
        multiply-and-round the binary double. Unrounded taxa_var makes every
        later tie a measure-zero event; final outputs are still rounded to
        1dp like the reference.
    """
    cur, prev, taxa = "valor_atual", "valor_anterior", "taxa_var"

    monthly = single_task_if_small(df).groupBy(time_col, group_col).agg(
        (
            F.sum(F.col(value_col).cast(value_decimal)).cast("double")
            / F.count(value_col)
        ).alias(cur)
    )

    w = Window.partitionBy(group_col).orderBy(time_col)
    lagged = monthly.withColumn(prev, F.lag(cur, 1).over(w))

    taxa_expr = (F.col(cur) - F.col(prev)) / _nullif(F.col(prev), F.lit(0)) * 100
    if reference_rounding:
        taxa_expr = F.round(taxa_expr, 1)
    taxas = (
        lagged.filter(F.col(prev).isNotNull() & (F.col(prev) != 0))
        .withColumn(taxa, taxa_expr)
        .filter(F.col(taxa).isNotNull())
    )

    avg_all = F.round(F.avg(taxa), 1)
    aggs: list[Column] = [avg_all.alias(out_avg_col)]
    for group_value, name in pivot.items():
        piv = F.coalesce(
            F.round(F.avg(F.when(F.col(group_col) == group_value, F.col(taxa))), 1),
            F.lit(0.0),
        )
        aggs.append(piv.alias(name))
        # Reference parity: the view's *_diff columns are the UNROUNDED
        # difference of two 1dp-rounded values (README.md 'NEXTEL_Diff'
        # emits e.g. 2.3-1.1 -> 1.1999999999999997), so reference mode
        # must not add an outer round; default mode tidies to 1dp.
        diff = piv - avg_all
        aggs.append(
            (diff if reference_rounding else F.round(diff, 1)).alias(f"{name}_diff")
        )
    aggs.append(F.countDistinct(group_col).alias("__n_groups"))

    result = (
        taxas.groupBy(time_col)
        .agg(*aggs)
        .filter(F.col("__n_groups") >= min_distinct_groups)
        .withColumn(out_time_col, F.date_format(time_col, time_format))
        .drop("__n_groups", time_col)
    )
    ordered_cols = [out_time_col, out_avg_col] + [
        c for name in pivot.values() for c in (name, f"{name}_diff")
    ]
    return result.select(*ordered_cols).coalesce(1).orderBy(F.col(out_time_col).desc())


#: Economic groups pivoted by the reference view (README.md:167-182).
IDA_GROUPS = {
    "ALGAR": "algar",
    "CLARO": "claro",
    "OI": "oi",
    "TIM": "tim",
    "VIVO": "vivo",
    "NEXTEL": "nextel",
}

IDA_METRIC = "Indicador de Desempenho no Atendimento (IDA)"


def consolidacao_de_metricas(fact: DataFrame) -> DataFrame:
    """The reference view verbatim, over the canonical IDA fact table.

    ``fact`` schema: (id, grupo_economico, servico, mes_referencia, valor,
    tipo_servico) — see FIXTURES.md §1. Filter on the IDA metric
    (README.md:144) happens here, before aggregation, so Catalyst pushes it
    into the scan.
    """
    filtered = fact.filter(F.col("servico") == IDA_METRIC).withColumn(
        "__mes", F.date_trunc("month", F.col("mes_referencia"))
    )
    return mom_variation_pivot(
        filtered,
        time_col="__mes",
        group_col="grupo_economico",
        value_col="valor",
        pivot=IDA_GROUPS,
        reference_rounding=True,  # verbatim README.md:126-131 semantics
    )


def consolidacao_view_sql() -> str:
    """S14: the reference view as executable SPARK SQL text — the dialect
    translation of ``/root/reference/README.md:119-213`` (``TO_CHAR`` ->
    ``date_format``, ``::numeric`` casts -> ``ROUND`` on double; identical
    CTE / window / conditional-pivot / HAVING structure)."""
    pivot_exprs = []
    for group_value, name in IDA_GROUPS.items():
        piv = (
            "COALESCE(ROUND(AVG(CASE WHEN grupo_economico = '"
            + group_value
            + "' THEN taxa_var END), 1), 0.0)"
        )
        pivot_exprs.append(f"{piv} AS {name}")
        # unrounded diff of rounded terms — verbatim reference view output
        pivot_exprs.append(f"{piv} - ROUND(AVG(taxa_var), 1) AS {name}_diff")
    pivot_sql = ",\n       ".join(pivot_exprs)
    return f"""
WITH monthly AS (
    SELECT date_trunc('month', mes_referencia) AS mes_ref,
           grupo_economico,
           CAST(SUM(CAST(valor AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(valor) AS valor_atual
    FROM be_analytic_table
    WHERE servico = '{IDA_METRIC}'
    GROUP BY 1, 2
), lagged AS (
    SELECT mes_ref, grupo_economico, valor_atual,
           LAG(valor_atual) OVER (
               PARTITION BY grupo_economico ORDER BY mes_ref) AS valor_anterior
    FROM monthly
), taxas AS (
    SELECT mes_ref, grupo_economico,
           ROUND((valor_atual - valor_anterior)
                 / NULLIF(valor_anterior, 0) * 100, 1) AS taxa_var
    FROM lagged
    WHERE valor_anterior IS NOT NULL AND valor_anterior <> 0
)
SELECT /*+ COALESCE(1) */ date_format(mes_ref, 'yyyy-MM') AS mes,
       ROUND(AVG(taxa_var), 1) AS taxa_media,
       {pivot_sql}
FROM taxas
WHERE taxa_var IS NOT NULL
GROUP BY mes_ref
HAVING COUNT(DISTINCT grupo_economico) >= 2
ORDER BY mes DESC
"""


def create_consolidacao_view(spark, fact: DataFrame) -> DataFrame:
    """Register ``fact`` as ``be_analytic_table`` and the
    ``consolidacao_de_metricas`` temp view from the SQL text — the
    spark.sql twin of ``consolidacao_de_metricas()`` (equivalence asserted
    in tests/test_flagship.py). A fact that fits one task is registered
    coalesced to one partition, as ``mom_variation_pivot`` gates its input.

    The SQL is analysed once, and the view is that analysed frame: it is
    bound to the fact this call registers, not to whatever
    ``be_analytic_table`` names later."""
    single_task_if_small(fact).createOrReplaceTempView("be_analytic_table")
    view = spark.sql(consolidacao_view_sql())
    view.createOrReplaceTempView("consolidacao_de_metricas")
    return view


#: Order priorities for the star-schema analog (FIXTURES.md §4).
ORDER_PRIORITIES = {
    "1-URGENT": "urgent",
    "2-HIGH": "high",
    "3-MEDIUM": "medium",
    "4-NOT SPECIFIED": "not_specified",
    "5-LOW": "low",
}


def flagship_orders(spark, sf_dir: str) -> DataFrame:
    """Flagship analog on the driver's ``orders`` table: MoM variation of
    AVG(o_totalprice) per o_orderpriority — the exact operator chain of the
    reference view with ``orders`` standing in for ``be_analytic_table``."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.withColumn("__mes", F.date_trunc("month", F.col("o_orderdate")))
    return mom_variation_pivot(
        monthly,
        time_col="__mes",
        group_col="o_orderpriority",
        value_col="o_totalprice",
        pivot=ORDER_PRIORITIES,
        value_decimal="decimal(18,2)",  # o_totalprice is 2dp money
    )


def flagship_orders_oracle_sql() -> str:
    """DuckDB twin of ``flagship_orders`` (driver correctness gate)."""
    # DuckDB's ROUND is binary and SIGN-PRESERVING: ROUND(-0.04, 1)
    # emits -0.0, while Spark's BigDecimal-based F.round can never emit a
    # negative zero — and the 17g canon distinguishes "0" from "-0"
    # (observed live: three sf0.1 pivot cells with means in (-0.05, 0)).
    # `x + 0.0` is the IEEE zero-sign normalizer (identity on every other
    # value incl. NULL/NaN), applied to every emitted column that can
    # round a negative mean to zero.
    pivot_exprs = []
    for group_value, name in ORDER_PRIORITIES.items():
        piv = (
            "COALESCE(ROUND(AVG(CASE WHEN o_orderpriority = '"
            + group_value
            + "' THEN taxa_var END), 1) + 0.0, 0.0)"
        )
        pivot_exprs.append(f"{piv} AS {name}")
        pivot_exprs.append(
            f"ROUND({piv} - ROUND(AVG(taxa_var), 1), 1) + 0.0 AS {name}_diff"
        )
    pivot_sql = ",\n       ".join(pivot_exprs)
    return f"""
WITH monthly AS (
    SELECT date_trunc('month', o_orderdate) AS mes_ref,
           o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(o_totalprice) AS valor_atual
    FROM orders
    GROUP BY 1, 2
), lagged AS (
    SELECT mes_ref, o_orderpriority, valor_atual,
           LAG(valor_atual) OVER (
               PARTITION BY o_orderpriority ORDER BY mes_ref) AS valor_anterior
    FROM monthly
), taxas AS (
    SELECT mes_ref, o_orderpriority,
           (valor_atual - valor_anterior)
                 / NULLIF(valor_anterior, 0) * 100 AS taxa_var
    FROM lagged
    WHERE valor_anterior IS NOT NULL AND valor_anterior <> 0
)
SELECT strftime(mes_ref, '%Y-%m') AS mes,
       ROUND(AVG(taxa_var), 1) + 0.0 AS taxa_media,
       {pivot_sql}
FROM taxas
WHERE taxa_var IS NOT NULL
GROUP BY mes_ref
HAVING COUNT(DISTINCT o_orderpriority) >= 2
ORDER BY mes DESC
"""
