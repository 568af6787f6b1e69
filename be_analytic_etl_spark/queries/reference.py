"""Reference-surface queries: the ETL job's operators (SURVEY.md §2) on
the star schema, the ETL and I/O round trips, the storage layouts and
file formats, table maintenance (merge, SCD2, snapshot diff,
incremental refresh) and the Spark SQL surface (pipe syntax, SQL table
functions, VARIANT).

Each query is the Spark-first expression of one operator family, paired
with a DuckDB oracle twin. Large SUMs go through DECIMAL (exact,
associative), so the Spark partial-aggregate sum and DuckDB's
sequential sum give bit-identical doubles; AVGs and per-row arithmetic
stay double and are rounded. Layout queries materialize under /tmp
(tagged by scale factor) and return an aggregate the oracle computes
from the original parquet, so they prove the layout keeps the values,
not only that the write succeeded.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators import sampling as SA
from be_analytic_etl_spark.operators import versioning as V
from be_analytic_etl_spark.registry import register
from be_analytic_etl_spark.sources import load_table as _t


def _nullif(c, v):
    return F.when(c == v, F.lit(None)).otherwise(c)


# ---------------------------------------------------------------------------
# A1: hash aggregate GROUP BY (time, group) + AVG  (README.md:138,145)
# Scale: single shuffle on the composite key; partial agg map-side.
def _avg_exact(col: str, dec: str = "decimal(18,2)"):
    """Deterministic mean: exact-decimal SUM (associative -> immune to
    partial-agg merge order) cast to double, one IEEE division by count.
    Plain AVG(double) + ROUND is shuffle-fetch-order dependent and hits
    engine-divergent rounding ties when the data has low decimal content."""
    return F.sum(F.col(col).cast(dec)).cast("double") / F.count(col)


def q_groupby_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("mes"),
        F.col("o_orderpriority"),
    ).agg(
        _avg_exact("o_totalprice").alias("avg_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


register(
    "groupby_avg",
    q_groupby_avg,
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS mes,
           o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(o_totalprice) AS avg_price,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# W1+W2: LAG window over an aggregated input + MoM variation
# (README.md:126-131,139-150). Window partitions by the low-cardinality
# group key AFTER aggregation — window input is |groups|x|months| rows.
def q_lag_mom_variation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("mes"),
        F.col("o_orderpriority"),
    ).agg(_avg_exact("o_totalprice").alias("valor_atual"))
    w = Window.partitionBy("o_orderpriority").orderBy("mes")
    lagged = monthly.withColumn("valor_anterior", F.lag("valor_atual", 1).over(w))
    return (
        lagged.filter(F.col("valor_anterior").isNotNull() & (F.col("valor_anterior") != 0))
        .select(
            "mes",
            "o_orderpriority",
            "valor_atual",
            "valor_anterior",
            (
                (F.col("valor_atual") - F.col("valor_anterior"))
                / _nullif(F.col("valor_anterior"), F.lit(0))
                * 100
            ).alias("taxa_var"),
        )
    )


register(
    "lag_mom_variation",
    q_lag_mom_variation,
    """
    WITH monthly AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS mes, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(o_totalprice) AS valor_atual
        FROM orders GROUP BY 1, 2
    ), lagged AS (
        SELECT mes, o_orderpriority, valor_atual,
               LAG(valor_atual) OVER (PARTITION BY o_orderpriority ORDER BY mes)
                   AS valor_anterior
        FROM monthly
    )
    SELECT mes, o_orderpriority, valor_atual, valor_anterior,
           (valor_atual - valor_anterior) / NULLIF(valor_anterior, 0) * 100
               AS taxa_var
    FROM lagged
    WHERE valor_anterior IS NOT NULL AND valor_anterior <> 0
    """,
)


# ---------------------------------------------------------------------------
# A3+A4: conditional-aggregation pivot (README.md:167-203) — single groupBy
# pass with static CASE list (one shuffle; no pivot value-discovery job).
def q_conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    flags = {"A": "flag_a", "N": "flag_n", "R": "flag_r"}
    aggs = []
    for v, name in flags.items():
        cond = F.when(F.col("l_returnflag") == v, F.col("l_extendedprice"))
        mean = F.sum(cond.cast("decimal(18,2)")).cast("double") / F.count(cond)
        aggs.append(
            F.coalesce(
                F.when(F.count(cond) > 0, mean), F.lit(0.0)
            ).alias(name)
        )
    return li.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("mes")).agg(*aggs)


def _cond_avg_sql(flag: str) -> str:
    case = f"CASE WHEN l_returnflag = '{flag}' THEN l_extendedprice END"
    return (
        f"COALESCE(CASE WHEN COUNT({case}) > 0 THEN "
        f"CAST(SUM(CAST({case} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({case}) "
        f"END, 0.0)"
    )


register(
    "conditional_pivot",
    q_conditional_pivot,
    f"""
    SELECT strftime(l_shipdate, '%Y-%m') AS mes,
           {_cond_avg_sql("A")} AS flag_a,
           {_cond_avg_sql("N")} AS flag_n,
           {_cond_avg_sql("R")} AS flag_r
    FROM lineitem GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# A5: COUNT(DISTINCT) + HAVING (README.md:209-211) = post-agg filter.
def q_having_countdistinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.countDistinct("o_orderpriority").alias("n_prio"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("n_prio") >= 2)
    )


register(
    "having_countdistinct",
    q_having_countdistinct,
    """
    SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_prio, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    HAVING COUNT(DISTINCT o_orderpriority) >= 2
    """,
)


# ---------------------------------------------------------------------------
# R1: unpivot wide->long (main.py:482-518). Native Spark `unpivot` — a
# narrow transformation, no shuffle, scales linearly.
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )


register(
    "unpivot_measures",
    q_unpivot_measures,
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)


# ---------------------------------------------------------------------------
# R5+R6: union-by-name + distinct (main.py:627-647).
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.unionByName(supp).distinct()


register(
    "union_distinct",
    q_union_distinct,
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)


# ---------------------------------------------------------------------------
# P14: dense sequential id. NOTE: row_number over a global window forces a
# single partition — correct but not the scale path. The scale path is
# consolidate.add_dense_id (zipWithIndex-style per-partition offsets); this
# registry entry proves the exact-1..N semantics the reference has.
def q_dense_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_orderkey")
    return orders.select(
        F.row_number().over(w).alias("id"),
        "o_orderkey",
        "o_orderpriority",
    )


register(
    "dense_id",
    q_dense_id,
    """
    SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) AS id, o_orderkey, o_orderpriority
    FROM orders
    """,
)


# ---------------------------------------------------------------------------
# P14 scale path: add_dense_id (map-only id assignment from the monotonic-id
# local counter + broadcast per-partition offsets — no data shuffle, no
# global window). With order_cols the id follows the global sort order, so
# the result is exactly ROW_NUMBER() OVER (ORDER BY o_orderkey) — DuckDB-
# expressible, making the SCALE path (not just the exact-window proof above)
# value-checked.
def q_dense_id_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.consolidate import add_dense_id

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return add_dense_id(orders, order_cols=["o_orderkey"])


register(
    "dense_id_scale",
    q_dense_id_scale,
    """
    SELECT o_orderkey, o_orderpriority,
           ROW_NUMBER() OVER (ORDER BY o_orderkey) AS id
    FROM orders
    """,
)


# ---------------------------------------------------------------------------
# Ingest E2E (P5+P6+P7+P8+P9+P10 and R1-R4 as ONE chain): a synthetic
# ANATEL-shaped wide file — preamble metadata rows, a marker header row
# ('GRUPO ECONÔMICO'), month columns labelled 'YYYY-MM-DD HH:MM:SS', BR-
# locale value strings, an embedded metadata row and an all-null row — is
# built deterministically from the nation table, run through EXACTLY the
# production transform chain (sources.ingest.transform_wide), and the long
# fact output is value-checked against DuckDB computing the expected result
# directly. Reference chain: the reference main.py:202-590.
_E2E_MONTHS = ["2023-01", "2023-02", "2023-03"]


def q_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.sources import ingest as I

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")

    def val_expr(m: int):
        # three BR-number branches + an empty-string case, keyed off integer
        # columns (same style as br_number_parse)
        i = (F.col("n_nationkey") * 100 + F.lit(m * 10)).cast("string")
        dd = F.lpad(((F.col("n_nationkey") + F.lit(m)) % 100).cast("string"), 2, "0")
        branch = (F.col("n_nationkey") + F.lit(m)) % 3
        return (
            F.when((F.col("n_nationkey") + F.lit(2 * m)) % 11 == 0, F.lit(""))
            .when(branch == 0, F.concat(F.lit("R$ "), i, F.lit(","), dd))
            .when(branch == 1, F.concat(F.lit(" "), i, F.lit(" ")))
            .otherwise(F.concat(i, F.lit(","), dd))
        )

    data = nation.select(
        (F.col("n_nationkey") + 100).alias("__ord"),
        F.col("n_name").alias("_c0"),
        F.lit("IDA").alias("_c1"),
        *[val_expr(m + 1).alias(f"_c{m + 2}") for m in range(len(_E2E_MONTHS))],
    )
    k = F.col("r_regionkey")
    pre = region.select(
        F.when(k == 3, F.lit(150)).when(k == 4, F.lit(200)).otherwise(k).cast("long").alias("__ord"),
        F.when(k == 0, F.lit("SERVIÇO: TELEFONIA FIXA COMUTADA"))
        .when(k == 1, F.lit("FONTE: ANATEL"))
        .when(k == 2, F.lit("GRUPO ECONÔMICO"))
        .when(k == 3, F.lit("PARA MAIORES INFORMAÇÕES acesse o portal"))
        .alias("_c0"),
        F.when(k == 2, F.lit("VARIÁVEL")).alias("_c1"),
        *[
            F.when(k == 2, F.lit(f"{m}-01 00:00:00")).alias(f"_c{j + 2}")
            for j, m in enumerate(_E2E_MONTHS)
        ],
    )
    # single sorted partition = the physical row order of a real small file.
    # persist() makes the fixture a materialized table like a real file
    # read: without it, CollapseProject folds the fixture's when-chains
    # into the transform projection and the combined expression tree trips
    # a Spark codegen bug (subexpression elimination emits an invalid
    # parameter name when mutable state compacts to arrays -> interpreted
    # fallback with an ERROR log).
    raw = (
        pre.unionByName(data)
        .repartition(1)
        .sortWithinPartitions("__ord")
        .drop("__ord")
        .persist()
    )
    return I.transform_wide(raw, "STFC")


register(
    "ingest_e2e",
    q_ingest_e2e,
    """
    WITH m(mnum, mdate) AS (
        VALUES (1, DATE '2023-01-01'), (2, DATE '2023-02-01'), (3, DATE '2023-03-01')
    )
    SELECT n_name AS "GRUPO_ECONOMICO",
           'IDA' AS "VARIAVEL",
           mdate AS "REFERENCIA_MES",
           CASE WHEN (n_nationkey + 2 * mnum) % 11 = 0 THEN NULL
                WHEN (n_nationkey + mnum) % 3 = 1
                     THEN CAST(n_nationkey * 100 + mnum * 10 AS DOUBLE)
                ELSE CAST(CAST(n_nationkey * 100 + mnum * 10 AS VARCHAR) || '.'
                          || lpad(CAST((n_nationkey + mnum) % 100 AS VARCHAR), 2, '0')
                          AS DOUBLE)
           END AS "VALOR",
           'STFC' AS "SERVICO"
    FROM nation, m
    """,
)


# ---------------------------------------------------------------------------
# EP1 tail (P13+P14+P15 on real ingest output): the ingest_e2e long fact
# through consolidate() + finalize() — union/distinct, the snake_case
# rename TRAP (VARIAVEL -> servico, SERVICO -> tipo_servico, applied in one
# positional select because sequential renames would collide), the map-only
# dense id following the canonical sort, and the final column order.
def q_ingest_finalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.consolidate import consolidate, finalize

    return finalize(consolidate([q_ingest_e2e(spark, sf_dir)]))


register(
    "ingest_finalize",
    q_ingest_finalize,
    """
    WITH m(mnum, mdate) AS (
        VALUES (1, DATE '2023-01-01'), (2, DATE '2023-02-01'), (3, DATE '2023-03-01')
    ), long AS (
        SELECT n_name AS g, 'IDA' AS v, mdate AS mes,
               CASE WHEN (n_nationkey + 2 * mnum) % 11 = 0 THEN NULL
                    WHEN (n_nationkey + mnum) % 3 = 1
                         THEN CAST(n_nationkey * 100 + mnum * 10 AS DOUBLE)
                    ELSE CAST(CAST(n_nationkey * 100 + mnum * 10 AS VARCHAR) || '.'
                              || lpad(CAST((n_nationkey + mnum) % 100 AS VARCHAR), 2, '0')
                              AS DOUBLE)
               END AS val,
               'STFC' AS tipo
        FROM nation, m
    )
    SELECT ROW_NUMBER() OVER (ORDER BY tipo, g, v, mes) AS id,
           g AS grupo_economico, v AS servico, mes AS mes_referencia,
           val AS valor, tipo AS tipo_servico
    FROM long
    """,
)


# ---------------------------------------------------------------------------
# S7+S8 round-trip: aggregate -> single-file header CSV sink -> typed
# re-read (inferSchema), value-checked against DuckDB computing the same
# aggregate from parquet directly — proving the CSV surface preserves
# values exactly (Spark writes shortest-round-trip doubles; the re-read
# parses them back bit-identical). Reference: consolidated-CSV export +
# reload, main.py:738-744 / connect_postgre.py:224-226.
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from be_analytic_etl_spark.sources.ingest import read_typed_csv
    from be_analytic_etl_spark.sources.sinks import write_csv

    cust = _t(spark, sf_dir, "customer")
    agg = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _avg_exact("c_acctbal").alias("avg_acctbal"),
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_csv_roundtrip_{tag}"
    write_csv(agg, path, single_file=True)
    return read_typed_csv(spark, path)


register(
    "csv_roundtrip",
    q_csv_roundtrip,
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS INTEGER) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(c_acctbal) AS avg_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
)


# ---------------------------------------------------------------------------
# S9+S11+S12 LIVE: aggregate -> JDBC warehouse load (DROP/CREATE with
# mapped column types + batched parallel insert) -> JDBC read-back,
# value-checked against DuckDB computing the same aggregate from parquet.
# The warehouse is embedded Derby (ships with the Spark distro) — the same
# write_jdbc/read path a Postgres deployment uses, minus the network. Types
# survive the round-trip exactly: BIGINT<->long, VARCHAR<->string,
# DOUBLE<->double (binary, not text — no precision hazard).
# Reference: connect_postgre.py:209-321.
def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from be_analytic_etl_spark.sources.sinks import write_jdbc

    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    agg = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        # the sink declares n_name VARCHAR(32): values wider than the
        # DDL abort Derby's batch insert (string-poisoned gate), so the
        # loader truncates at the declared width — the standard
        # load-boundary guard; clean TPC-H names (<= 25 chars) pass
        # byte-identical
        .groupBy(F.substring("n_name", 1, 32).alias("n_name"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_acctbal"),
        )
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    url = f"jdbc:derby:memory:graft_{tag};create=true"
    write_jdbc(
        agg,
        url,
        "nation_suppliers",
        user="",
        password="",
        column_types="n_name VARCHAR(32), n_suppliers BIGINT, sum_acctbal DOUBLE",
    )
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_suppliers")
        .load()
    )


register(
    "jdbc_roundtrip",
    q_jdbc_roundtrip,
    """
    SELECT substr(n_name, 1, 32) AS n_name, COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# TPC-H Q3-shape: filter + 3-way join + groupBy + top-k. Scale: filters push
# into all three scans; orders/lineitem co-shuffle on the order key (AQE
# skew-handling); top-k plans as TakeOrderedAndProject (per-partition heaps,
# no global sort materialization). Ties broken by unique l_orderkey.
_Q3_DATE = "1995-03-15"


def q_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < _Q3_DATE)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > _Q3_DATE)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue.cast("decimal(28,6)")).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


register(
    "topk_revenue",
    q_topk_revenue,
    f"""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
               AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{_Q3_DATE} 00:00:00'
      AND l_shipdate > TIMESTAMP '{_Q3_DATE} 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)


# ---------------------------------------------------------------------------
# Semi/anti joins: customers with vs without orders, counted per nation.
# Scale: LeftSemi/LeftAnti ship only the join key of the build side (no
# payload duplication, no row multiplication); both reuse one shuffle of
# customer on c_custkey under AQE.
def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    on = cust.c_custkey == orders.o_custkey
    semi = (
        cust.join(orders, on, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_with"))
    )
    anti = (
        cust.join(orders, on, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_without"))
    )
    return semi.join(anti, "c_nationkey", "full_outer").select(
        "c_nationkey",
        F.coalesce("n_with", F.lit(0)).alias("n_with"),
        F.coalesce("n_without", F.lit(0)).alias("n_without"),
    )


register(
    "semi_anti_customers",
    q_semi_anti_customers,
    """
    WITH w AS (
        SELECT c_nationkey, COUNT(*) AS n_with FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_nationkey
    ), wo AS (
        SELECT c_nationkey, COUNT(*) AS n_without FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_nationkey
    )
    SELECT COALESCE(w.c_nationkey, wo.c_nationkey) AS c_nationkey,
           COALESCE(n_with, 0) AS n_with,
           COALESCE(n_without, 0) AS n_without
    FROM w FULL OUTER JOIN wo ON w.c_nationkey = wo.c_nationkey
    """,
)


# ---------------------------------------------------------------------------
# R4: Brazilian-number normalization as a native column expression, applied
# to messy strings built deterministically from integer columns (all three
# locale branches). Oracle builds the canonical decimal string directly —
# both engines then parse decimal text -> nearest double, bit-identical.
def q_br_number_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.functions import br_number_to_double

    li = _t(spark, sf_dir, "lineitem")
    cents = F.lpad((F.col("l_partkey") % 100).cast("string"), 2, "0")
    thousands = F.lpad((F.col("l_suppkey") % 1000).cast("string"), 3, "0")
    ok = F.col("l_orderkey").cast("string")
    raw = (
        F.when(
            F.col("l_linenumber") % 3 == 0,
            F.concat(F.lit("R$ "), ok, F.lit(","), cents),
        )
        .when(
            F.col("l_linenumber") % 3 == 1,
            F.concat(ok, F.lit("."), thousands, F.lit(","), cents),
        )
        .otherwise(F.concat(F.lit(" "), ok, F.lit(" ")))
    )
    return li.select("l_orderkey", "l_linenumber", raw.alias("raw")).withColumn(
        "parsed", br_number_to_double("raw")
    )


register(
    "br_number_parse",
    q_br_number_parse,
    """
    SELECT l_orderkey, l_linenumber,
           CASE
             WHEN l_linenumber % 3 = 0 THEN
               'R$ ' || CAST(l_orderkey AS VARCHAR) || ',' || lpad(CAST(l_partkey % 100 AS VARCHAR), 2, '0')
             WHEN l_linenumber % 3 = 1 THEN
               CAST(l_orderkey AS VARCHAR) || '.' || lpad(CAST(l_suppkey % 1000 AS VARCHAR), 3, '0')
                 || ',' || lpad(CAST(l_partkey % 100 AS VARCHAR), 2, '0')
             ELSE ' ' || CAST(l_orderkey AS VARCHAR) || ' '
           END AS raw,
           CASE
             WHEN l_linenumber % 3 = 0 THEN
               CAST(CAST(l_orderkey AS VARCHAR) || '.' || lpad(CAST(l_partkey % 100 AS VARCHAR), 2, '0') AS DOUBLE)
             WHEN l_linenumber % 3 = 1 THEN
               CAST(CAST(l_orderkey AS VARCHAR) || lpad(CAST(l_suppkey % 1000 AS VARCHAR), 3, '0')
                 || '.' || lpad(CAST(l_partkey % 100 AS VARCHAR), 2, '0') AS DOUBLE)
             ELSE CAST(l_orderkey AS DOUBLE)
           END AS parsed
    FROM lineitem
    """,
)


# ---------------------------------------------------------------------------
# P1-P4: manifest-style predicates — CASE-classification, regex extract,
# UPPER/contains filters (main.py:138-199).
def q_classify_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    u = F.upper(F.coalesce(F.col("p_type"), F.lit("")))
    return part.select(
        "p_partkey",
        F.when(u.contains("ECONOMY"), F.lit("ECO"))
        .when(u.contains("STANDARD"), F.lit("STD"))
        .when(u.contains("PROMO"), F.lit("PRM"))
        .otherwise(F.lit("OTHER"))
        .alias("type_class"),
        # NULLIF: regexp_extract yields '' on no-match and the ANSI
        # ''->INT cast throws — null-on-error, the reference's P4
        # semantics (string-poisoned gate)
        F.nullif(F.regexp_extract("p_brand", r"(\d+)", 1), F.lit(""))
        .cast("int")
        .alias("brand_num"),
        F.upper("p_name").contains("WIDGET").alias("is_widget"),
    )


register(
    "classify_extract",
    q_classify_extract,
    """
    SELECT p_partkey,
           CASE
             WHEN upper(COALESCE(p_type, '')) LIKE '%ECONOMY%' THEN 'ECO'
             WHEN upper(COALESCE(p_type, '')) LIKE '%STANDARD%' THEN 'STD'
             WHEN upper(COALESCE(p_type, '')) LIKE '%PROMO%' THEN 'PRM'
             ELSE 'OTHER'
           END AS type_class,
           CAST(NULLIF(regexp_extract(p_brand, '(\\d+)', 1), '') AS INTEGER)
               AS brand_num,
           upper(p_name) LIKE '%WIDGET%' AS is_widget
    FROM part
    """,
)


# ---------------------------------------------------------------------------
# P7: metadata-row removal — drop rows where a column contains any of a
# pattern list, case-insensitive, null-safe (main.py:239-251).
_DROP_PATTERNS = ["ERROR", "STREAM"]


def q_pattern_row_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cond = F.lit(False)
    for p in _DROP_PATTERNS:
        cond = cond | F.coalesce(F.upper("text").contains(p), F.lit(False))
    return docs.filter(~cond).select("doc_id", "lang", "n_chars")


register(
    "pattern_row_filter",
    q_pattern_row_filter,
    """
    SELECT doc_id, lang, n_chars FROM documents
    WHERE NOT (COALESCE(upper(text) LIKE '%ERROR%', FALSE)
            OR COALESCE(upper(text) LIKE '%STREAM%', FALSE))
    """,
)


# ---------------------------------------------------------------------------
# R2/F9/F10/P18: date parsing + formatting round-trips (null on error).
def q_date_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ym = F.date_format("ts", "yyyy-MM")
    return ev.select(
        "event_id",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        ym.alias("ym"),
        F.to_date(ym, "yyyy-MM").alias("ym_date"),
    )


register(
    "date_roundtrip",
    q_date_roundtrip,
    """
    WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
    SELECT event_id,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           strftime(ts, '%Y-%m') AS ym,
           CAST(strptime(strftime(ts, '%Y-%m'), '%Y-%m') AS DATE) AS ym_date
    FROM ev
    """,
)


# ---------------------------------------------------------------------------
# F11-F17: ROUND / NULLIF / COALESCE / CASE / arithmetic / predicates.
# Rounding precision note: the product has exact 4-decimal content, so
# round(x, 1) sits on true decimal ties where Spark (exact binary
# expansion) and DuckDB (multiply-shift) can disagree — round PAST the
# data's decimal content instead (cross-engine determinism).
def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"),
        F.coalesce(
            F.round(F.col("l_tax") / _nullif(F.col("l_discount"), F.lit(0)), 4),
            F.lit(-1.0),
        ).alias("tax_disc_ratio"),
        F.when(F.col("l_quantity") > 25, F.lit("big")).otherwise(F.lit("small")).alias("qty_class"),
    ).filter(F.col("l_extendedprice").isNotNull() & (F.col("l_quantity") != 0))


register(
    "scalar_math",
    q_scalar_math,
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 6) AS revenue,
           COALESCE(ROUND(l_tax / NULLIF(l_discount, 0), 4), -1.0) AS tax_disc_ratio,
           CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS qty_class
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND l_quantity <> 0
    """,
)


# ---------------------------------------------------------------------------
# TPC-H Q1-shape pricing summary — the canonical partial-agg benchmark.
# Determinism: SUMs via DECIMAL (exact, associative) so partial aggregation
# matches DuckDB's sequential sum bit-for-bit.
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(disc_price.cast("decimal(28,6)")).cast("double").alias("sum_disc_price"),
            F.sum(charge.cast("decimal(28,6)")).cast("double").alias("sum_charge"),
            _avg_exact("l_quantity").alias("avg_qty"),
            _avg_exact("l_extendedprice").alias("avg_price"),
            _avg_exact("l_discount", "decimal(18,2)").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


register(
    "pricing_summary",
    q_pricing_summary,
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)


# ---------------------------------------------------------------------------
# Star join through broadcast dims: customer ⋈ nation ⋈ region.
# Scale: nation/region are tiny at ANY SF -> broadcast, zero shuffle for the
# joins; one shuffle for the final aggregate.
def q_star_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_acctbal"),
        )
    )


register(
    "star_join_broadcast",
    q_star_join_broadcast,
    """
    SELECT r_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)


# ---------------------------------------------------------------------------
# Large-side shuffle join: orders ⋈ lineitem, revenue per priority.
# Scale: both sides shuffle on orderkey (co-partitioned hash join); AQE
# handles skew; aggregate is partial map-side on the join output.
def q_fact_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(revenue.cast("decimal(28,6)")).cast("double").alias("total_revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


register(
    "fact_join_revenue",
    q_fact_join_revenue,
    """
    SELECT o_orderpriority,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
               AS total_revenue,
           COUNT(*) AS n_lineitems
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# TPC-H Q5-shape: region-filtered 6-table join chain. Scale: nation/region
# broadcast (zero shuffle), customer/orders/lineitem/supplier co-shuffle on
# their keys; the n_name aggregate is partial map-side. The s_nationkey =
# c_nationkey predicate (local-supplier rule) applies as a post-join filter.
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue.cast("decimal(28,6)")).cast("double").alias("revenue"))
    )


register(
    "region_revenue",
    q_region_revenue,
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
               AS revenue
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND s_nationkey = c_nationkey
    GROUP BY n_name
    """,
)


# ---------------------------------------------------------------------------
# ROLLUP aggregate: subtotals per (returnflag, linestatus), per returnflag,
# and grand total in ONE pass (Expand + single shuffle — Spark plans rollup
# as an Expand node, not |levels| scans). grouping() flags disambiguate the
# NULL-vs-subtotal rows, exactly like the SQL GROUPING() function.
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


register(
    "rollup_revenue",
    q_rollup_revenue,
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)


# ---------------------------------------------------------------------------
# Top-N per group: rank window over (priority ORDER BY price DESC, key) —
# the per-group window sorts only within each group's partition slice (no
# global sort); ties broken by unique o_orderkey for cross-engine
# determinism.
def q_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
    )


register(
    "topn_per_group",
    q_topn_per_group,
    """
    SELECT o_orderpriority, CAST(rk AS INTEGER) AS rk, o_orderkey, o_totalprice
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders)
    WHERE rk <= 3
    """,
)


# ---------------------------------------------------------------------------
# Sessionization (gap-based): session = cumulative sum of "gap > 30 min"
# flags per user.
# Scale: one shuffle on user_id; window sort is per-user (bounded).
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # .cast("timestamp"): unix_micros rejects TIMESTAMP_NTZ, and sessions
    # with parquet NTZ inference (the driver's default) read events.ts as
    # NTZ. The cast is a no-op on LTZ and a session-tz reinterpretation on
    # NTZ — either way the *difference* is offset-free, so gap semantics
    # are identical in both session configs.
    ts_i = F.col("ts").cast("timestamp")
    gap_us = F.unix_micros(ts_i) - F.unix_micros(F.lag(ts_i, 1).over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wsum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


register(
    "sessionize",
    q_sessionize,
    """
    WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id FROM events
    ), flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               -- CAST: DuckDB window SUM yields HUGEINT; Spark's is BIGINT.
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess GROUP BY user_id, session_id
    """,
)


# ---------------------------------------------------------------------------
# Sliding-window aggregation: 1h windows sliding every 30min — every event
# belongs to exactly 2 windows.
# Spark's F.window expands each row into its window set in ONE pass (an
# Expand, no self-join); the DuckDB oracle states the same expansion
# explicitly (floor to the slide grid, k in 0..1).
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


register(
    "sliding_window",
    q_sliding_window,
    """
    WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
    ), expanded AS (
        -- CAST: to_timestamp yields TIMESTAMPTZ; Spark window starts are
        -- naive TIMESTAMP (session tz UTC)
        SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800
                                 - k * 1800) AS TIMESTAMP) AS win_start,
               event_type, value
        FROM ev, range(0, 2) r(k)
    )
    SELECT win_start, event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM expanded GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# Dimension enrichment: events left-join a broadcast user dimension derived
# from customer, aggregated by segment. The small dimension broadcasts —
# no shuffle of the event side.
def q_events_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    enriched = ev.join(F.broadcast(dim), "user_id", "left")
    return enriched.groupBy(
        F.coalesce(F.col("segment"), F.lit("UNKNOWN")).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


register(
    "events_enrich",
    q_events_enrich,
    """
    WITH dim AS (
        SELECT c_custkey AS user_id, c_mktsegment AS segment FROM customer
    )
    SELECT COALESCE(segment, 'UNKNOWN') AS segment,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e LEFT JOIN dim ON e.user_id = dim.user_id
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Tumbling-window aggregation: events per (hour, event_type).
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


register(
    "tumbling_window",
    q_tumbling_window,
    """
    WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
    )
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM ev GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# TPC-H Q4-shape: EXISTS-style semi-join with a non-equi residual (late
# shipments), counted per priority. Scale: the semi-join ships only
# (l_orderkey, l_shipdate) from the big side and stops probing an order at
# its first late item; the date filter prunes the orders scan.
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    items = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        items,
        (orders.o_orderkey == items.l_orderkey)
        & (items.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
    )


register(
    "late_shipment_priority",
    q_late_shipment_priority,
    """
    SELECT o_orderpriority, COUNT(*) AS n_late_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# TPC-H Q7-shape: bilateral trade flow between two nations by ship year.
# Scale: both nation filters push into the (broadcast) dim joins before the
# fact shuffle; supplier and customer sides are broadcast; only
# lineitem<->orders co-shuffles.
def q_nation_trade_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    bloc = F.col("n_nationkey") < 5
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(nation.filter(bloc), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(nation.filter(bloc), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.sum(revenue.cast("decimal(28,6)")).cast("double").alias("revenue"))
    )


register(
    "nation_trade_flow",
    q_nation_trade_flow,
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS ship_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
               AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE sn.n_nationkey < 5 AND cn.n_nationkey < 5
      AND sn.n_name <> cn.n_name
    GROUP BY 1, 2, 3
    """,
)


# ---------------------------------------------------------------------------
# TPC-H Q18-shape: large-volume orders — HAVING over a fact aggregation,
# then join back to the order/customer dims. Scale: the HAVING prunes to a
# tiny key set before any dim join; the join-back broadcasts that key set.
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


register(
    "large_orders",
    q_large_orders,
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM orders
    JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 200) big
      ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
)


# ---------------------------------------------------------------------------
# Rolling-frame window metrics: 7-row trailing sum/avg/max per user plus
# rank-family functions (ntile, cume_dist) over a unique (ts, event_id)
# order. Scale: one shuffle on user_id serves every window; frames are
# bounded (7 rows) so state is O(1) per row.
def q_rolling_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w7 = w.rowsBetween(-6, Window.currentRow)
    val = F.col("value").cast("decimal(18,6)")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(val).over(w7).cast("double").alias("roll_sum7"),
        # double-division, not decimal-division: engines round decimal
        # quotients at different scales (Spark scale-6 vs DuckDB's wider
        # quotient — last-digit mismatch).
        # The sum is exact decimal, cast exact (<2^53), then one IEEE
        # division both engines compute bit-identically.
        (
            F.sum(val).over(w7).cast("double") / F.count(F.lit(1)).over(w7)
        ).alias("roll_avg7"),
        F.max("value").over(w7).alias("roll_max7"),
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cume"),
    )


register(
    "rolling_metrics",
    q_rolling_metrics,
    """
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w7 AS DOUBLE) AS roll_sum7,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w7 AS DOUBLE)
                / COUNT(*) OVER w7 AS roll_avg7,
           MAX(value) OVER w7 AS roll_max7,
           NTILE(4) OVER w AS quartile,
           CUME_DIST() OVER w AS cume
    FROM events
    WHERE event_type = 'purchase'
    WINDOW
        w AS (PARTITION BY user_id ORDER BY ts, event_id),
        w7 AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)


# ---------------------------------------------------------------------------
# Exact distribution stats per group: interpolated median/p90 (Spark
# `percentile` == DuckDB `quantile_cont`), min/max, exact distinct users.
# Scale note: exact percentile requires a per-group sort — at 100 TB swap
# in approx_percentile (t-digest, mergeable partial agg) which has no
# cross-engine oracle; the exact form is the correctness anchor.
def q_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.countDistinct("user_id").alias("n_users"),
    )


register(
    "percentile_stats",
    q_percentile_stats,
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           MIN(value) AS vmin,
           MAX(value) AS vmax,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)


# ---------------------------------------------------------------------------
# JSON property extraction: typed from_json with an explicit schema (never
# schema inference on a 100 TB scan) + path-style get_json_object, then an
# aggregation over the extracted key. Malformed JSON -> NULL (PERMISSIVE),
# exercised via the null-count column.
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.LongType())])
    k = F.from_json("props", schema).getField("k")
    k_str = F.get_json_object("props", "$.k")
    return (
        ev.select(
            "event_type",
            k.alias("k"),
            k_str.cast("long").alias("k_path"),
        )
        .groupBy("event_type", (F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("k") != F.col("k_path"), 1).otherwise(0)).alias(
                "path_disagreements"
            ),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_null"),
        )
    )


register(
    "json_extract",
    q_json_extract,
    """
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
           COUNT(*) AS n,
           -- CAST: DuckDB SUM(int) yields HUGEINT; Spark's is BIGINT and the
           -- driver's value-hash distinguishes the representations.
           CAST(SUM(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT)
                    <> CAST(json_extract_string(props, '$.k') AS BIGINT)
                    THEN 1 ELSE 0 END) AS BIGINT) AS path_disagreements,
           CAST(SUM(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null
    FROM events
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# Funnel analysis: per-user earliest signup -> first click after it ->
# first purchase after that. Three conditional-min aggregations over ONE
# shuffle of events on user_id (stage thresholds join back on the already
# user-keyed aggregates — tiny frames). furthest_stage feeds conversion
# reporting.
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("signup_ts")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "signup_ts",
            "click_ts",
            "purchase_ts",
            (
                F.when(F.col("purchase_ts").isNotNull(), 3)
                .when(F.col("click_ts").isNotNull(), 2)
                .otherwise(1)
            ).alias("furthest_stage"),
        )
    )


register(
    "funnel",
    q_funnel,
    """
    WITH s AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS click_ts
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s.signup_ts
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS purchase_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.click_ts
        GROUP BY e.user_id
    )
    SELECT s.user_id, s.signup_ts, c.click_ts, p.purchase_ts,
           CASE WHEN p.purchase_ts IS NOT NULL THEN 3
                WHEN c.click_ts IS NOT NULL THEN 2
                ELSE 1 END AS furthest_stage
    FROM s
    LEFT JOIN c ON s.user_id = c.user_id
    LEFT JOIN p ON s.user_id = p.user_id
    """,
)


# ---------------------------------------------------------------------------
# Cohort retention: users bucketed by first-activity week, matrix of
# distinct active users per (cohort_week, weeks_since). Two aggregations +
# one join, all keyed on user_id then (cohort, offset) — the standard
# retention-curve build.
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    )
    cohort = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        ev.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            ).alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


register(
    "cohort_retention",
    q_cohort_retention,
    """
    WITH ev AS (
        SELECT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS week
        FROM events
    ), cohort AS (
        SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(FLOOR(date_diff('day', c.cohort_week, e.week) / 7.0) AS BIGINT) AS weeks_since,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM ev e JOIN cohort c ON e.user_id = c.user_id
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# Click->purchase attribution, composed from the bucketized range_join
# operator (clicks become 30-minute intervals; purchases are
# the points), so the batch path is also nested-loop-free.
def q_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("click_end"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return range_join(
        purchases, clicks, "purchase_ts", "click_ts", "click_end",
        keys=["user_id"], bucket_width_seconds=1800,
    ).select(
        "user_id", "click_id", "click_ts", "purchase_id", "purchase_ts",
        "purchase_value",
    )


register(
    "click_attribution",
    q_click_attribution,
    """
    WITH clicks AS (
        SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
               event_id AS purchase_id, value AS purchase_value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id, c.click_ts,
           p.purchase_id, p.purchase_ts, p.purchase_value
    FROM purch p JOIN clicks c
      ON p.user_id = c.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts < c.click_ts + INTERVAL 30 MINUTE
    """,
)


# ---------------------------------------------------------------------------
# TPC-H Q17-shape: correlated scalar aggregate, decorrelated the way
# Catalyst (and every modern planner) executes it — join the fact against
# its own per-key aggregate. Small-quantity items priced against 20% of
# their part's average quantity.
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(avg_qty), li.l_partkey == avg_qty.pk)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # Cast-then-divide (not decimal /7, whose quotient scale and
            # rounding are engine-specific): exact decimal sum -> exact
            # double -> one IEEE division, bit-identical across engines.
            (
                F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).cast(
                    "double"
                )
                / 7.0
            ).alias("avg_yearly"),
        )
    )


register(
    "small_quantity_revenue",
    q_small_quantity_revenue,
    """
    SELECT COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0
               AS avg_yearly
    FROM lineitem l
    JOIN (SELECT l_partkey AS pk, AVG(l_quantity) * 0.2 AS qty_cut
          FROM lineitem GROUP BY l_partkey) a
      ON l.l_partkey = a.pk
    WHERE l.l_quantity < a.qty_cut
    """,
)


# ---------------------------------------------------------------------------
# CUBE + GROUPING() id: all 4 aggregation levels of (returnflag,
# linestatus) in ONE Expand pass, with grouping_id disambiguating the
# NULL-as-total rows from genuine NULLs — the warehouse reporting shape.
def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity")).alias("sum_qty"),
            F.grouping_id().alias("gid"),
        )
    )


register(
    "cube_revenue",
    q_cube_revenue,
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           SUM(l_quantity) AS sum_qty,
           GROUPING(l_returnflag, l_linestatus) AS gid
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)


# ---------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT between two deterministic key sets
# (customers with urgent vs high-priority orders). Spark plans both as
# aggregated semi/anti joins — no materialized temp sets.
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    both = urgent.intersect(high).select(F.col("o_custkey"), F.lit("both").alias("tag"))
    only_urgent = urgent.distinct().subtract(high.distinct()).select(
        F.col("o_custkey"), F.lit("urgent_only").alias("tag")
    )
    return both.unionByName(only_urgent)


register(
    "set_ops",
    q_set_ops,
    """
    SELECT o_custkey, 'both' AS tag FROM (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
    UNION ALL
    SELECT o_custkey, 'urgent_only' AS tag FROM (
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
    """,
)


# ---------------------------------------------------------------------------
# Fuzzy matching: Levenshtein-distance self-join over the DISTINCT part
# vocabulary (aggregate first — the fact table repeats each name thousands
# of times; the vocab is what fuzzy dedup operates on at any scale),
# blocked by name length band with adjacent-band probing (edit distance
# <= 2 implies |len diff| <= 2 — full recall, bounded blocks).
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("name_id"))
    )
    a = vocab.select(
        F.col("name_id").alias("id_a"),
        F.col("p_name").alias("name_a"),
        F.floor(F.length("p_name") / 4).alias("band"),
    )
    b = vocab.select(
        F.col("name_id").alias("id_b"),
        F.col("p_name").alias("name_b"),
        F.explode(
            F.array(
                F.floor(F.length("p_name") / 4) - 1,
                F.floor(F.length("p_name") / 4),
                F.floor(F.length("p_name") / 4) + 1,
            )
        ).alias("band"),
    )
    # thresholded levenshtein: O(k * len) with early exit instead of the
    # full O(len^2) DP — on an adversarial megabyte-long "name" (the
    # string-poisoned gate) the unthresholded form is ~10^12 cells per
    # pair and never returns; the threshold form is exact for distances
    # <= 2 and returns -1 past the threshold (hence between(0, 2), not
    # <= 2).
    lev2 = F.levenshtein("name_a", "name_b", 2)
    return (
        a.join(b, "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(lev2.between(0, 2))
        .select(
            "id_a", "id_b", "name_a", "name_b",
            lev2.alias("distance"),
        )
        .distinct()
    )


register(
    "fuzzy_match",
    q_fuzzy_match,
    """
    WITH vocab AS (
        SELECT p_name, MIN(p_partkey) AS name_id FROM part GROUP BY p_name
    )
    SELECT DISTINCT a.name_id AS id_a, b.name_id AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS distance
    FROM vocab a JOIN vocab b
      ON a.name_id < b.name_id
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)


# ---------------------------------------------------------------------------
# Native session_window: Spark's mergeable gap-session operator
# aggregated per (user, session) — the oracle derives identical sessions
# relationally (lag-gap flag + running sum), proving the two formulations
# equivalent. Session end = last event + gap, per session_window semantics.
def q_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


register(
    "session_window_batch",
    q_session_window_batch,
    """
    WITH flagged AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - LAG(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    """,
)


# ---------------------------------------------------------------------------
# JSONL round-trip: aggregate -> newline-delimited JSON sink -> schema'd
# re-read — the interchange format every LLM-corpus pipeline speaks
# (sinks.write_jsonl). Value-checked against DuckDB computing the same
# aggregate from parquet: proves JSON serialization preserves longs and
# shortest-round-trip doubles exactly. The re-read passes an explicit
# schema (production shape — no inference pass).
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from be_analytic_etl_spark.sources import read_jsonl, write_jsonl

    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = f"/tmp/spark_graft_jsonl_roundtrip_{tag}"
    write_jsonl(agg, path, single_file=True)
    return read_jsonl(
        spark,
        path,
        schema="event_type STRING, n_events BIGINT, n_users BIGINT, sum_value DOUBLE",
    )


register(
    "jsonl_roundtrip",
    q_jsonl_roundtrip,
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)


# ---------------------------------------------------------------------------
# P11/P12/P17 string-surface parity: trailing-zero strip + empty->null on
# deterministically constructed messy strings.
def q_ext_strip_zeros(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.functions import empty_to_null, strip_trailing_zeros

    li = _t(spark, sf_dir, "lineitem")
    raw = F.when(
        F.col("l_linenumber") % 7 == 0, F.lit("")
    ).otherwise(
        F.concat(
            (F.col("l_partkey") % 100).cast("string"),
            F.lit("."),
            F.lpad((F.col("l_suppkey") % 100).cast("string"), 2, "0"),
            F.repeat(F.lit("0"), (F.col("l_linenumber") % 3).cast("int")),
        )
    )
    return (
        li.select("l_orderkey", "l_linenumber", raw.alias("raw"))
        .withColumn("stripped", strip_trailing_zeros("raw"))
        .withColumn("nulled", empty_to_null("stripped"))
    )


register(
    "ext_strip_zeros",
    q_ext_strip_zeros,
    r"""
    WITH base AS (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_linenumber % 7 = 0 THEN ''
                    ELSE CAST(l_partkey % 100 AS VARCHAR) || '.'
                         || lpad(CAST(l_suppkey % 100 AS VARCHAR), 2, '0')
                         || repeat('0', l_linenumber % 3) END AS raw
        FROM lineitem
    ), s AS (
        SELECT l_orderkey, l_linenumber, raw,
               CASE WHEN regexp_matches(raw, '^[0-9]+\.[0-9]+$')
                    THEN regexp_replace(
                             regexp_replace(raw, '^([0-9]+)\.0+$', '\1'),
                             '^([0-9]+\.[0-9]*?)0+$', '\1')
                    ELSE raw END AS stripped
        FROM base
    )
    SELECT l_orderkey, l_linenumber, raw, stripped,
           CASE WHEN trim(stripped) = '' THEN NULL ELSE stripped END AS nulled
    FROM s
    """,
)


# First event per user: the winner per key is min(ts, event_id), with
# event_id breaking ties on ts so the pick is deterministic.
def q_ext_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )


register(
    "ext_first_per_key",
    q_ext_first_per_key,
    """
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events)
    WHERE rn = 1
    """,
)


# ---------------------------------------------------------------------------
# MERGE upsert (operators/merge.py): customer corrections — every 10th key
# gets a new acctbal (including a NULL case: update values win wholesale,
# no per-column COALESCE), every 37th is deleted, and a shifted key range
# is inserted. One full-outer shuffle on the key.
def q_ext_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.merge import merge_upsert

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    mods = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.upper("c_name").alias("c_name"),
        F.when(F.col("c_custkey") % 20 == 0, F.col("c_acctbal") + 100.0).alias(
            "c_acctbal"
        ),
        F.lit("CORRECTED").alias("c_mktsegment"),
        (F.col("c_custkey") % 37 == 0).alias("is_deleted"),
    )
    inserts = cust.filter(F.col("c_custkey") % 100 == 3).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NEW_"), "c_name").alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("FRESH").alias("c_mktsegment"),
        F.lit(False).alias("is_deleted"),
    )
    return merge_upsert(
        cust, mods.unionByName(inserts), keys=["c_custkey"], delete_col="is_deleted"
    )


register(
    "ext_merge_upsert",
    q_ext_merge_upsert,
    """
    WITH mods AS (
        SELECT c_custkey,
               upper(c_name) AS c_name,
               CASE WHEN c_custkey % 20 = 0 THEN c_acctbal + 100.0 END AS c_acctbal,
               'CORRECTED' AS c_mktsegment,
               c_custkey % 37 = 0 AS is_deleted
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW_' || c_name, 0.0, 'FRESH', FALSE
        FROM customer WHERE c_custkey % 100 = 3
    )
    SELECT COALESCE(m.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN m.c_custkey IS NOT NULL THEN m.c_name ELSE c.c_name END AS c_name,
           CASE WHEN m.c_custkey IS NOT NULL THEN m.c_acctbal ELSE c.c_acctbal END AS c_acctbal,
           CASE WHEN m.c_custkey IS NOT NULL THEN m.c_mktsegment ELSE c.c_mktsegment END AS c_mktsegment
    FROM customer c FULL OUTER JOIN mods m ON c.c_custkey = m.c_custkey
    WHERE NOT COALESCE(m.is_deleted, FALSE)
    """,
)


# ---------------------------------------------------------------------------
# SCD type-2 history (operators/merge.py): order rows as customer-state
# versions — valid_from/valid_to intervals + current flag via lead() per
# key. Deduped to one version per (custkey, day) for determinism.
def q_ext_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.merge import scd2_history

    orders = _t(spark, sf_dir, "orders")
    versions = orders.groupBy(
        "o_custkey", F.col("o_orderdate").alias("valid_from")
    ).agg(F.max("o_totalprice").alias("state_price"))
    return scd2_history(versions, keys=["o_custkey"], valid_from="valid_from")


register(
    "ext_scd2",
    q_ext_scd2,
    """
    WITH versions AS (
        SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS valid_from,
               MAX(o_totalprice) AS state_price
        FROM orders GROUP BY 1, 2
    )
    SELECT o_custkey, valid_from, state_price,
           LEAD(valid_from) OVER w AS valid_to,
           LEAD(valid_from) OVER w IS NULL AS is_current
    FROM versions
    WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from)
    """,
)


# ---------------------------------------------------------------------------
# Column profiling (operators/profiling.py): ANALYZE-TABLE stats for the
# lineitem fact in one aggregation job, long format.
def q_ext_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.profiling import profile

    li = _t(spark, sf_dir, "lineitem")
    return profile(
        li, ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]
    )


def _profile_branch(c: str, numeric: bool) -> str:
    mn = f"CAST(MIN({c}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
    mx = f"CAST(MAX({c}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
    return (
        f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows, "
        # CAST: DuckDB SUM(int) is HUGEINT (float64 in pandas); Spark's is
        # BIGINT and the driver's value-hash distinguishes them.
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, "
        f"COUNT(DISTINCT {c}) AS n_distinct, {mn} AS min_value, {mx} AS max_value "
        f"FROM lineitem"
    )


register(
    "ext_profile",
    q_ext_profile,
    " UNION ALL ".join(
        _profile_branch(c, num)
        for c, num in [
            ("l_orderkey", True),
            ("l_quantity", True),
            ("l_extendedprice", True),
            ("l_returnflag", False),
            ("l_shipdate", False),
        ]
    ),
)


# ---------------------------------------------------------------------------
# Z-order layout key (operators/profiling.py): Morton interleave of
# (orderkey, partkey) low bits — the Delta/Iceberg Z-ORDER clustering key
# as a deterministic expression; aggregated into key-range buckets so the
# oracle result is compact while every key value still feeds the hash.
def q_ext_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.profiling import zorder_key

    li = _t(spark, sf_dir, "lineitem")
    zk = zorder_key("l_orderkey", "l_partkey", bits=16)
    return (
        li.select(zk.alias("zkey"))
        .groupBy((F.col("zkey") % 97).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("zkey").alias("zsum"),
            F.min("zkey").alias("zmin"),
            F.max("zkey").alias("zmax"),
        )
    )


def _zorder_oracle() -> str:
    from be_analytic_etl_spark.operators.profiling import zorder_sql

    z = zorder_sql("l_orderkey", "l_partkey", bits=16)
    return f"""
    WITH z AS (SELECT {z} AS zkey FROM lineitem)
    SELECT zkey % 97 AS zbucket, COUNT(*) AS n,
           -- CAST: DuckDB SUM(BIGINT) is HUGEINT; Spark's is BIGINT.
           CAST(SUM(zkey) AS BIGINT) AS zsum,
           MIN(zkey) AS zmin, MAX(zkey) AS zmax
    FROM z GROUP BY 1
    """


register("ext_zorder", q_ext_zorder, _zorder_oracle())


# ---------------------------------------------------------------------------
# Data-quality constraint audit over the orders table (deequ/dbt-style):
# null-ness, key uniqueness, value domain, range, and referential
# integrity in one report. All row-local rules share ONE aggregate pass;
# uniqueness is one groupBy; the FK check is a broadcast anti join.
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import quality as Q

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    rules = [
        Q.not_null("o_orderkey_not_null", "o_orderkey"),
        Q.not_null("o_custkey_not_null", "o_custkey"),
        Q.unique("o_orderkey_unique", "o_orderkey"),
        Q.in_set(
            "o_orderstatus_domain", "o_orderstatus", "F", "O", "P"
        ),
        Q.in_range("o_totalprice_range", "o_totalprice", 0.0, 600000.0),
        Q.matches("o_orderpriority_shape", "o_orderpriority", "^[1-5]-[A-Z ]+$"),
        Q.foreign_key("o_custkey_fk_customer", "o_custkey", customer, "c_custkey"),
    ]
    return Q.constraint_audit(orders, rules)


register(
    "ext_dq_audit",
    q_dq_audit,
    """
    SELECT 'o_orderkey_not_null' AS rule,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations
    FROM orders
    UNION ALL
    SELECT 'o_custkey_not_null',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey_unique',
           CAST(SUM(extra) AS BIGINT)
    FROM (SELECT COUNT(*) - 1 AS extra FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'o_orderstatus_domain',
           CAST(SUM(CASE WHEN o_orderstatus IS NULL
                           OR o_orderstatus NOT IN ('F', 'O', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_range',
           CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0.0
                           OR o_totalprice > 600000.0
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority_shape',
           CAST(SUM(CASE WHEN o_orderpriority IS NULL
                           OR NOT regexp_matches(o_orderpriority,
                                                 '^[1-5]-[A-Z ]+$')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_custkey_fk_customer',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
)


# ---------------------------------------------------------------------------
# Z-order layout census: interleave (customer, order-day) bits into a
# Morton key, bucket the z-sorted orders into 64 "files", and emit each
# bucket's footer stats (min/max per dimension) plus whether a fixed
# customer-range probe would touch it — the lakehouse OPTIMIZE ZORDER
# data-skipping story, in exact integer bit math (oracle replays the
# keys bit-for-bit). NTILE's global window is the local stand-in for
# repartitionByRange at scale (operators/layout.py).
_Z_BUCKETS = 64


_Z_PROBE_LO, _Z_PROBE_HI = 100, 200


#: 21 bits per dimension (2^21 = 2M): o_custkey passes 2^16 from TPC-H
#: sf~0.5 and reaches 150k at sf1 — 16 bits would silently alias keys
#: mod 65536 and erode the locality the census demonstrates. 2*21 = 42
#: key bits, well inside BIGINT.
_Z_BITS = 21


def q_ext_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.layout import zorder_skipping_stats

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_custkey").alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("y"),
        F.col("o_orderkey").alias("id"),
    )
    stats = zorder_skipping_stats(
        base, "x", "y", "id", n_buckets=_Z_BUCKETS, bits=_Z_BITS
    )
    return stats.withColumn(
        "touches_probe",
        (F.col("min_x") <= _Z_PROBE_HI) & (F.col("max_x") >= _Z_PROBE_LO),
    )


def _zorder_skip_oracle() -> str:
    from be_analytic_etl_spark.operators.profiling import zorder_sql

    zexpr = zorder_sql("x", "y", bits=_Z_BITS)
    return f"""
    WITH base AS (
        SELECT o_custkey AS x,
               date_diff('day', DATE '1992-01-01', o_orderdate) AS y,
               o_orderkey AS id
        FROM orders
    ), zb AS (
        SELECT x, y,
               NTILE({_Z_BUCKETS}) OVER (ORDER BY {zexpr}, id) AS bucket
        FROM base
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y,
           (MIN(x) <= {_Z_PROBE_HI} AND MAX(x) >= {_Z_PROBE_LO})
               AS touches_probe
    FROM zb GROUP BY bucket
    """


register("ext_zorder_skipping", q_ext_zorder_skipping, _zorder_skip_oracle())


# ---------------------------------------------------------------------------
# Skew-proof exact per-group top-k: two-phase (sub-bucket top-k, then
# final re-rank of <= k*salt_n survivors) — the pattern that survives a
# power-law hot group where a single-window top-k straggles. Result is
# salt-invariant, so the oracle is the plain window top-k.
_TOPK_K = 3


def q_ext_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return SA.topk_per_group(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        group_cols=["o_orderpriority"],
        order_col="o_totalprice",
        id_col="o_orderkey",
        k=_TOPK_K,
    )


register(
    "ext_topk_per_group",
    q_ext_topk_per_group,
    f"""
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey
           ) AS INTEGER) AS rank
    FROM orders
    QUALIFY rank <= {_TOPK_K}
    """,
)


def _tag(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/")).replace(".", "_")


# ---------------------------------------------------------------------------
# ORC round-trip: project + filter lineitem -> ORC -> re-read -> aggregate.
# The projection/filter happen BEFORE the write so the ORC file carries
# only the 3 needed columns — the same scan-minimizing shape a 100 TB
# format migration would use.

def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") < 10).select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    path = f"/tmp/spark_graft_orc_{_tag(sf_dir)}"
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "orc_roundtrip",
    q_orc_roundtrip,
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem WHERE l_quantity < 10 GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# Partitioned write + partition-pruned read. The re-read filters on the
# partition column: Catalyst resolves it against directory names
# (PartitionFilters), so only 1 of 5 directories is ever listed/read —
# the layout that turns a 100 TB scan into a 20 TB one for free.
# tests/test_storage.py pins the PartitionFilters plan shape.

def q_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.sources.sinks import write_partitioned

    orders = _t(spark, sf_dir, "orders")
    path = f"/tmp/spark_graft_part_{_tag(sf_dir)}"
    sel = orders.select(
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"
    )
    write_partitioned(sel, path, partition_cols=["o_orderpriority"])
    # Explicit schema: an EMPTY input writes zero partition directories
    # and schema INFERENCE would fail (UNABLE_TO_INFER_SCHEMA); partition
    # discovery (and the pruned PartitionFilters plan shape pinned by
    # tests/test_storage.py) is unaffected by a user-supplied schema.
    back = spark.read.schema(sel.schema).parquet(path)
    return (
        back.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


register(
    "partitioned_prune",
    q_partitioned_prune,
    """
    SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Bucketed join: customer and orders both bucketed 8 ways on custkey via
# external-path saveAsTable, then joined. Both sides report the same
# HashClusteredDistribution-compatible bucketing, so the sort-merge join
# has NO shuffle exchange on either side (pinned by tests/test_storage.py)
# — the co-located layout for a recurring 100 TB fact/dim join.

def bucketize(
    df: DataFrame,
    table: str,
    path: str,
    key: str,
    n_buckets: int = 8,
) -> None:
    from be_analytic_etl_spark.sources.sinks import write_bucketed_table

    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    write_bucketed_table(
        df, table, buckets=n_buckets, bucket_cols=[key], sort_cols=[key], path=path
    )


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = _tag(sf_dir)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    bucketize(cust, f"graft_cust_b_{tag}", f"/tmp/spark_graft_bkt_cust_{tag}", "c_custkey")
    bucketize(
        orders, f"graft_orders_b_{tag}", f"/tmp/spark_graft_bkt_orders_{tag}", "o_custkey"
    )
    c = spark.table(f"graft_cust_b_{tag}")
    o = spark.table(f"graft_orders_b_{tag}")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


register(
    "bucketed_join",
    q_bucketed_join,
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)


# ---------------------------------------------------------------------------
# XML round-trip (Spark 4's built-in XML source — new surface the
# reference's CSV/Postgres stack lacks). supplier -> XML (rowTag) ->
# re-read with an EXPLICIT schema (inference on XML is a second full scan;
# at 100 TB the schema is always declared) -> aggregate; the oracle
# computes the same aggregate from the parquet original, proving the
# XML writer/reader preserve values exactly. Doubles survive because the
# writer emits Java shortest round-trip representations.

def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # XML 1.0 cannot represent control characters (legal chars are tab/
    # LF/CR and >= 0x20): a NUL-bearing upstream string makes the writer
    # throw WstxIOException and abort the job (string-poisoned gate), so
    # the sink boundary strips them — clean text passes byte-identical.
    xml_safe = F.regexp_replace(
        "s_name", r"[\x00-\x08\x0B\x0C\x0E-\x1F]", ""
    ).alias("s_name")
    sup = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 0)
        .select("s_suppkey", xml_safe, "s_nationkey", "s_acctbal")
    )
    path = f"/tmp/spark_graft_xml_{_tag(sf_dir)}"
    (
        sup.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema("s_suppkey bigint, s_name string, s_nationkey bigint, s_acctbal double")
        .load(path)
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_bal"),
        F.min("s_name").alias("first_name"),
    )


register(
    "xml_roundtrip",
    q_xml_roundtrip,
    """
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
           MIN(s_name) AS first_name
    FROM supplier WHERE s_acctbal > 0
    GROUP BY s_nationkey
    """,
)


# ---------------------------------------------------------------------------
# Custom Python DataSource (Spark 4): the reference's driver-side
# download loop (main.py:347-389) as a real Spark source — one
# InputPartition per resource URL, fetch/decode/split running executor-
# side. The query materializes per-region TSV fixtures from nation,
# reads them back through format("rest_tsv") over file:// URLs (same
# code path as http), parses, and aggregates; the oracle computes the
# same result from the parquet original. The 25-row driver collect is
# control-plane fixture writing, not a data funnel.

def q_rest_tsv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.sources.datasource import register_rest_tsv

    nation = _t(spark, sf_dir, "nation")
    rows = sorted(
        # a NULL region/name row has no bucket file to land in — skip it
        # when building the fixture, like any manifest-driven ingest
        # skips malformed resources (NULL-poisoned-batch gate)
        nation.filter("n_regionkey IS NOT NULL AND n_name IS NOT NULL")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect(),
        key=lambda r: r.n_nationkey,
    )
    base = f"/tmp/spark_graft_resttsv_{_tag(sf_dir)}"
    os.makedirs(base, exist_ok=True)
    paths: dict[int, str] = {}
    for rk in sorted({r.n_regionkey for r in rows}):
        p = f"{base}/r{rk}.tsv"
        with open(p, "w", encoding="utf-8") as f:
            for r in rows:
                if r.n_regionkey == rk:
                    # TSV framing cannot carry raw tab/newline: a name
                    # containing them shifts the key field and the ANSI
                    # ''->BIGINT cast crashes the read (string-poisoned
                    # gate) — the standard TSV escape maps them to ' '
                    # at the writer, mirrored in the oracle's
                    # regexp_replace; clean names pass byte-identical.
                    name = re.sub(r"[\t\n\r]", " ", r.n_name)
                    f.write(f"{name}\t{r.n_nationkey}\n")
        paths[rk] = p
    register_rest_tsv(spark)
    if not paths:
        # EMPTY manifest: zero resources to fetch — the source's `urls`
        # contract correctly refuses a blank option, so short-circuit to
        # the empty result frame with the output schema.
        return spark.createDataFrame(
            [], "region_bucket int, n_lines long, key_sum long, first_name string"
        )
    df = (
        spark.read.format("rest_tsv")
        .option("urls", ",".join(f"file://{p}" for p in paths.values()))
        .load()
    )
    parsed = df.select(
        F.regexp_extract("url", r"r(\d+)\.tsv$", 1).cast("int").alias("region_bucket"),
        F.split_part(F.col("line"), F.lit("\t"), F.lit(1)).alias("name"),
        F.split_part(F.col("line"), F.lit("\t"), F.lit(2)).cast("long").alias("key"),
    )
    return parsed.groupBy("region_bucket").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("key").alias("key_sum"),
        F.min("name").alias("first_name"),
    )


register(
    "rest_tsv_source",
    q_rest_tsv_source,
    """
    SELECT CAST(n_regionkey AS INTEGER) AS region_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           -- the TSV writer's framing escape (tab/newline -> space)
           MIN(regexp_replace(n_name, '[\\t\\n\\r]', ' ', 'g')) AS first_name
    FROM nation
    -- mirror the Spark fixture builder's NULL skip: a NULL region/name
    -- row has no bucket file, so the oracle must not emit a NULL bucket
    WHERE n_regionkey IS NOT NULL AND n_name IS NOT NULL
    GROUP BY n_regionkey
    """,
)


# ---------------------------------------------------------------------------
# Schema evolution: v1 parquet files lack a column that v2 files carry
# (the normal state of a long-lived 100 TB lake). mergeSchema unions the
# footers at read time; v1 rows surface NULL for the new column and the
# aggregate handles them explicitly. The oracle reproduces the same
# semantics from the original table.

def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    path = f"/tmp/spark_graft_evo_{_tag(sf_dir)}"
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        F.col("o_orderstatus").alias("status_v2"),
    )
    v1.write.mode("overwrite").parquet(f"{path}/v1")
    v2.write.mode("overwrite").parquet(f"{path}/v2")
    back = spark.read.option("mergeSchema", "true").parquet(f"{path}/v1", f"{path}/v2")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("status_v2").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_legacy_rows"),
        F.count("status_v2").cast("bigint").alias("n_evolved_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


register(
    "schema_evolution",
    q_schema_evolution,
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_legacy_rows,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_evolved_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# binaryfile_roundtrip: the `binaryFile` source — THE ingestion path for an
# image/audio corpus into opaque binary columns (multimodal.py's input
# shape). A deterministic per-doc .bin fixture is materialized under /tmp
# (driver-side: |fixture| = 1/10 of docs, control-plane sized), read back
# as (path, length, content), and value-proven against the original text:
# byte length and md5 must match DuckDB's view of the same documents. At
# 100 TB the same reader scans an object-store prefix with
# pathGlobFilter/recursiveFileLookup, one task per file group.


def q_binaryfile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    docs = _t(spark, sf_dir, "documents")
    path = f"/tmp/spark_graft_binfiles_{_tag(sf_dir)}"
    # Wipe-then-write, the directory-level equivalent of the other
    # fixtures' .mode("overwrite"): binaryFile scans the WHOLE directory,
    # so stale files from an earlier fixture generation would surface as
    # extra rows the oracle lacks.
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    # Fixture write: one .bin per sampled doc (driver-side loop is fixture
    # construction, like jdbc_roundtrip's embedded Derby — the measured
    # path is the distributed binaryFile scan below).
    sample = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    for r in sample.collect():
        with open(os.path.join(path, f"{r['doc_id']}.bin"), "wb") as f:
            f.write((r["text"] or "").encode("utf-8"))
    bf = spark.read.format("binaryFile").load(path)
    return bf.select(
        # try_cast: a non-matching filename extracts '' which ANSI cast
        # would throw on; NULL doc_id is the right answer for strays
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .try_cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("md5"),
    )


register(
    "binaryfile_roundtrip",
    q_binaryfile_roundtrip,
    """
    SELECT doc_id,
           CAST(octet_length(CAST(coalesce(text, '') AS BLOB)) AS BIGINT)
               AS n_bytes,
           md5(coalesce(text, '')) AS md5
    FROM documents WHERE doc_id % 10 = 0
    """,
)


# ---------------------------------------------------------------------------
# ext_variant_json: Spark 4 VARIANT ingestion — parse the props JSON once
# into the binary variant encoding, then typed variant_get extraction
# (the shredding-friendly path a 100 TB semi-structured column should
# take: parse once, extract many, no per-path string re-parse the way
# repeated get_json_object calls do).

def q_ext_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    missing = F.try_variant_get(v, "$.not_there", "string")
    return (
        ev.select("event_type", k.alias("k"), missing.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_k"),
            F.sum(F.when(F.col("m").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_missing"),
        )
    )


register(
    "ext_variant_json",
    q_ext_variant_json,
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.not_there') IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_null_missing
    FROM events GROUP BY event_type
    """,
)


# ---------------------------------------------------------------------------
# ext_snapshot_diff: v1 = orders minus every 11th key; v2 = orders minus
# every 7th key, with a 10% price bump on every 5th key. One full-outer
# sort-merge join on the key, then a per-status rollup with a key
# checksum. At 100 TB both versions would be bucketed on the key and the
# join would be exchange-free (bucketed_join proves that layout).


def q_ext_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    v1 = orders.filter(F.col("o_orderkey") % 11 != 0).select(*cols)
    v2 = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0,
            F.col("o_totalprice") * F.lit(1.1),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    diff = V.snapshot_diff(v1, v2, "o_orderkey", ["o_totalprice", "o_orderstatus"])
    return V.diff_summary(diff, "o_orderkey")


register(
    "ext_snapshot_diff",
    q_ext_snapshot_diff,
    """
    WITH v1 AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 11 <> 0
    ), v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0
                    THEN o_totalprice * CAST(1.1 AS DOUBLE)
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 7 <> 0
    ), d AS (
        SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k,
               CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'deleted'
                    WHEN a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
                         AND a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
                         THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS key_checksum
    FROM d GROUP BY status
    """,
)


# ---------------------------------------------------------------------------
# ext_incremental_agg: materialized-aggregate refresh without re-scanning
# history. The reference rebuilds its consolidated view from scratch every
# run (main.py:630-637 one-shot + README.md:119-213 full-
# table view); here the aggregate's mergeable partial state (count + exact
# DECIMAL sums) is built once over history and each later partition folds
# in with one |groups|-sized join — O(delta), not O(history). The oracle
# is the from-scratch GROUP BY over the whole table: equality IS the proof
# that the incremental path can replace the rescan.


def q_ext_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import incremental as I

    orders = _t(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    measures = {"totalprice": "o_totalprice"}
    # Three arriving partitions: history, then two monthly-style deltas.
    hist = orders.filter(F.col("o_orderdate") < F.lit("1996-07-01"))
    d1 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1997-07-01"))
    )
    d2 = orders.filter(F.col("o_orderdate") >= F.lit("1997-07-01"))
    state = I.aggregate_partial(hist, keys, measures)
    state = I.merge_states(state, I.aggregate_partial(d1, keys, measures), keys)
    state = I.merge_states(state, I.aggregate_partial(d2, keys, measures), keys)
    return I.finalize(state, keys, ["totalprice"])


register(
    "ext_incremental_agg",
    q_ext_incremental_agg,
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(32,2))) AS DOUBLE)
               AS total_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(32,2))) AS DOUBLE) / COUNT(*)
               AS avg_totalprice
    FROM orders GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# ext_rollup_refresh: continuous-aggregate (hypertable-rollup) maintenance
# under CORRECTIONS. The 1997+ partition is re-ingested with a price fix
# (+1000.00 on every 13th key — an EXACT binary delta, so the corrected
# double stays a near-2dp value both engines quantize to the same
# DECIMAL; a *1.1 bump creates 3-decimal doubles whose double->decimal
# rounding differs between engines near .005 boundaries); the monthly x
# priority rollup refreshes by REPLACING only the touched months
# (incremental.refresh_buckets) instead of re-aggregating history.
# Oracle: from-scratch GROUP BY over the corrected table — equality
# proves invalidation refresh == full rebuild.

_RR_CUT = "1997-01-01"


def q_ext_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import incremental as I

    orders = _t(spark, sf_dir, "orders")
    keys = ["month", "o_orderpriority"]
    measures = {"totalprice": "o_totalprice"}
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")

    # v1 state: the whole table, uncorrected.
    state = I.aggregate_partial(orders.select(month, "*"), keys, measures)
    # Re-ingested partition: 1997+ with the price correction applied.
    corrected = orders.filter(F.col("o_orderdate") >= F.lit(_RR_CUT)).select(
        month,
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + F.lit(1000.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    delta = I.aggregate_partial(corrected, keys, measures)
    refreshed = I.refresh_buckets(state, delta, ["month"])
    return I.finalize(refreshed, keys, ["totalprice"])


register(
    "ext_rollup_refresh",
    q_ext_rollup_refresh,
    f"""
    WITH corrected AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               o_orderpriority,
               CASE WHEN o_orderdate >= DATE '{_RR_CUT}' AND o_orderkey % 13 = 0
                    THEN o_totalprice + CAST(1000.0 AS DOUBLE)
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
    )
    SELECT month, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(32,2))) AS DOUBLE)
               AS total_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(32,2))) AS DOUBLE) / COUNT(*)
               AS avg_totalprice
    FROM corrected GROUP BY month, o_orderpriority
    """,
)


def q_pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__pipe_lineitem")
    return spark.sql(
        """
        FROM __pipe_lineitem
        |> WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
        |> AGGREGATE
             CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                  AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


register(
    "pipe_syntax_revenue",
    q_pipe_syntax_revenue,
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)


def q_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized view: customers of one market segment above a balance
    floor, as a SQL table function invoked with literal arguments."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__tf_customer")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION segment_customers(
            seg STRING, min_bal DOUBLE)
        RETURNS TABLE(c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)
        RETURN SELECT c_custkey, c_name, c_acctbal
               FROM __tf_customer
               WHERE c_mktsegment = seg AND c_acctbal >= min_bal
        """
    )
    return spark.sql(
        "SELECT * FROM segment_customers('BUILDING', 5000.0) ORDER BY c_custkey"
    )


register(
    "sql_table_function",
    q_sql_table_function,
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal >= 5000.0
    ORDER BY c_custkey
    """,
)


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity release audit (Sweeney, IJUFKS 2002;
# Machanavajjhala et al., ICDE 2006) over customer quasi-identifiers
# (nation, market segment) with the account balance BUCKETED as the
# sensitive attribute (bucket before auditing — raw continuous values
# make every class trivially "diverse"). One partial-agg groupBy; see
# operators/privacy.py for the scale notes. at_risk flags classes
# smaller than k=10; l_diversity = 1 means the class leaks the
# sensitive bucket even if it is k-anonymous.
_KANON_K = 10


# ext_k_anonymity: quasi-identifier k-anonymity / l-diversity audit
# (Sweeney 2002; Machanavajjhala 2006) over customer (nation, segment)
# classes — the release-risk check ``ext_redact``'s direct-PII scrub does
# not cover.
def q_ext_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.privacy import k_anonymity

    cust = _t(spark, sf_dir, "customer")
    sens = (
        F.when(F.col("c_acctbal") < 0, F.lit("overdrawn"))
        .when(F.col("c_acctbal") < 5000, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    return k_anonymity(
        cust, ["c_nationkey", "c_mktsegment"], sens, k=_KANON_K
    )


register(
    "ext_k_anonymity",
    q_ext_k_anonymity,
    f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'overdrawn'
                                    WHEN c_acctbal < 5000 THEN 'mid'
                                    ELSE 'high' END) AS BIGINT) AS l_diversity,
           COUNT(*) < {_KANON_K} AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
