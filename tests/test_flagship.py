"""Flagship query (consolidacao_de_metricas shape) vs DuckDB oracle."""

from __future__ import annotations

import datetime

from tests.conftest import (
    SF_DIR,
    assert_matches_oracle,
    broadcast_threshold,
    executed_plan,
)

from be_analytic_etl_spark.plans.flagship import (
    consolidacao_de_metricas,
    create_consolidacao_view,
    flagship_orders,
    flagship_orders_oracle_sql,
)


def test_flagship_orders_matches_oracle(spark, duck):
    df = flagship_orders(spark, SF_DIR)
    assert_matches_oracle(df, duck, flagship_orders_oracle_sql())


def _synthetic_ida_fact(spark):
    """Synthetic IDA fact table exercising group gaps, NULL valores, zero
    previous-month average, and months with a single group (HAVING)."""
    rows = []
    rid = 0
    groups = ["ALGAR", "CLARO", "OI", "TIM", "VIVO", "NEXTEL"]
    for m in range(1, 13):
        mes = datetime.date(2020, m, 1)
        for gi, g in enumerate(groups):
            if m == 5 and g != "ALGAR":
                continue  # month with one group -> HAVING must drop it
            if m == 3 and g == "OI":
                continue  # gap for one group
            rid += 1
            valor = None if (m == 4 and g == "TIM") else float(10 * (gi + 1) + m)
            if g == "VIVO" and m == 6:
                valor = 0.0  # zero average -> NULLIF branch next month
            rows.append(
                (
                    rid,
                    g,
                    "Indicador de Desempenho no Atendimento (IDA)",
                    mes,
                    valor,
                    "SMP",
                )
            )
            # noise rows under a different metric: must be filtered out
            rows.append((10000 + rid, g, "Taxa de Resolvidas em 5 dias úteis", mes, 99.9, "SMP"))
    return spark.createDataFrame(
        rows,
        "id long, grupo_economico string, servico string, "
        "mes_referencia date, valor double, tipo_servico string",
    )


def test_consolidacao_view_on_synthetic_ida(spark):
    fact = _synthetic_ida_fact(spark)
    out = consolidacao_de_metricas(fact)
    res = out.collect()
    assert len(res) > 0
    meses = [r["mes"] for r in res]
    assert meses == sorted(meses, reverse=True)
    assert "2020-05" not in meses  # single-group month dropped by HAVING
    cols = out.columns
    assert cols[0] == "mes" and "taxa_media" in cols
    for g in ["algar", "claro", "oi", "tim", "vivo", "nextel"]:
        assert g in cols and f"{g}_diff" in cols
    # zero-average guard: July VIVO had prev avg 0 -> row filtered, pivot
    # coalesces to 0.0 rather than inf/null
    july = [r for r in res if r["mes"] == "2020-07"]
    if july:
        assert july[0]["vivo"] == 0.0


def test_sql_view_equals_dataframe_plan(spark):
    """The spark.sql text of the view (S14) and the DataFrame chain must be
    the same query — identical rows, identical column order."""
    fact = _synthetic_ida_fact(spark)
    df_out = consolidacao_de_metricas(fact)
    sql_out = create_consolidacao_view(spark, fact)
    assert df_out.columns == sql_out.columns
    assert sorted(map(tuple, df_out.collect())) == sorted(map(tuple, sql_out.collect()))


def _synthetic_ida_parquet(spark, tmp_path):
    """The synthetic fact read back from parquet, so that Spark's size
    estimate is the file's (a frame built from Python rows estimates at
    ``spark.sql.defaultSizeInBytes`` and always takes the distributed plan)."""
    path = str(tmp_path / "ida_fact.parquet")
    _synthetic_ida_fact(spark).write.parquet(path)
    return spark.read.parquet(path)


def test_small_inputs_plan_no_exchange(spark, tmp_path):
    """Inputs within the broadcast threshold run in one task: the view's
    DataFrame chain, its SQL text and flagship_orders plan no Exchange."""
    fact = _synthetic_ida_parquet(spark, tmp_path)
    for out in (
        consolidacao_de_metricas(fact),
        create_consolidacao_view(spark, fact),
        flagship_orders(spark, SF_DIR),
    ):
        plan = executed_plan(out)
        assert "Exchange" not in plan, plan


def test_distributed_path_gives_the_same_rows(spark, duck, tmp_path):
    """Threshold -1 switches the size gate off: the view (both forms) and
    flagship_orders plan their hash exchanges again, the final sort still
    needs no range exchange, and every row equals the single-task path's."""
    fact = _synthetic_ida_parquet(spark, tmp_path)
    single = [
        consolidacao_de_metricas(fact).collect(),
        create_consolidacao_view(spark, fact).collect(),
        flagship_orders(spark, SF_DIR).collect(),
    ]
    with broadcast_threshold(spark, "-1"):
        outs = [
            consolidacao_de_metricas(fact),
            create_consolidacao_view(spark, fact),
            flagship_orders(spark, SF_DIR),
        ]
        for out in outs:
            plan = executed_plan(out)
            assert "Exchange hashpartitioning" in plan, plan
            assert "rangepartitioning" not in plan, plan
        assert [out.collect() for out in outs] == single
        assert_matches_oracle(outs[2], duck, flagship_orders_oracle_sql())


def test_flagship_oracle_normalizes_negative_zero(spark, tmp_path):
    """Regression (round 6, caught at sf0.1): a pivot cell whose mean
    taxa_var lies in (-0.05, 0) rounds to -0.0 under DuckDB's binary
    sign-preserving ROUND but +0.0 under Spark's BigDecimal round, and
    the 17g canon distinguishes them. The oracle's `+ 0.0` normalizer
    must keep the two sides hash-identical on exactly such data."""
    import duckdb

    import pyspark.sql.functions as F  # noqa: F401

    rows = []
    oid = 0
    # 1-URGENT drifts DOWN by 0.01 against a 10000 base each month:
    # taxa_var = -0.0001 -> ROUND(.., 1) hits the signed-zero branch.
    # 3-MEDIUM grows 10% so every month keeps >= 2 distinct groups.
    for m, (urgent, medium) in enumerate(
        [(10000.00, 100.0), (9999.99, 110.0), (9999.98, 121.0)], start=1
    ):
        for prio, price in (("1-URGENT", urgent), ("3-MEDIUM", medium)):
            oid += 1
            rows.append((oid, datetime.date(2024, m, 15), prio, price))
    pdf = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_orderpriority string, o_totalprice double"
    )
    pdf.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")

    got = flagship_orders(spark, str(tmp_path)).toPandas()
    # the urgent cell must actually exercise the branch
    assert (got["urgent"] == 0.0).any()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{tmp_path}/orders.parquet/*.parquet')"
    )
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(
        flagship_orders(spark, str(tmp_path)), con, flagship_orders_oracle_sql()
    )
    con.close()
