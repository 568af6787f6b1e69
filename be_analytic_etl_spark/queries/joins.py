"""Join queries: the TPC-H-shaped join and subquery plans, and the join
techniques (as-of, range, salted, Bloom-filtered, skew profile).

The TPC-H shapes cover LEFT OUTER with a compound join condition (Q13),
promo share (Q14), MAX scalar subquery (Q15), OR-of-ANDs partial
pushdown (Q19), NOT EXISTS + AVG scalar subquery (Q22), returned-item
top-k (Q10), yearly market share (Q8) and the ranking-window family.
All revenue sums go through DECIMAL, so Spark's partial-aggregate merge
order and DuckDB's sequential fold give bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.registry import register
from be_analytic_etl_spark.sources import load_table as _t


_DEC = "decimal(28,6)"


def _revenue() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)


# ---------------------------------------------------------------------------
# Q13-shape: customer order-count distribution. LEFT OUTER join with a
# compound condition (the non-key predicate must stay IN the join condition,
# not a post-filter — a post-filter would turn the outer join inner), then
# two cascaded aggregations.
# Scale: join shuffles on custkey; both groupBys are partial-agg'd map-side;
# the second groupBy input is |customers| rows, the third |distinct counts|.
def q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


register(
    "custdist",
    q_custdist,
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)


# ---------------------------------------------------------------------------
# Q14-shape: promo revenue share — conditional aggregate over a fact-dim
# join, ONE output row. Scale: part is the small side (broadcast); both
# SUMs ride the same partial aggregate (one pass, no second scan); the
# month filter prunes the lineitem scan before the join.
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    part = _t(spark, sf_dir, "part")
    rev = _revenue()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(_DEC))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_share_pct")
        )
    )


register(
    "promo_revenue",
    q_promo_revenue,
    """
    SELECT 100.0
           * CAST(SUM(CASE WHEN p_type = 'PROMO'
                           THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                           ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
               AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)


# ---------------------------------------------------------------------------
# Q15-shape: top supplier by quarterly revenue — aggregate, then keep rows
# equal to the global MAX (scalar subquery). Spark-first decorrelation: the
# MAX is a second tiny aggregate over the |suppliers|-row result,
# cross-joined back as a broadcast literal — NOT a global window (a window
# without PARTITION BY would single-partition the exchange; fine at
# |suppliers| rows but the agg+broadcast shape stays shuffle-free and is
# the habit worth keeping).  Exact-decimal revenue makes the MAX tie-safe.
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_revenue()).alias("total_revenue_dec"))
    )
    best = rev.agg(F.max("total_revenue_dec").alias("__best"))
    return (
        rev.join(F.broadcast(best), rev.total_revenue_dec == best.__best)
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue_dec").cast("double").alias("total_revenue"),
        )
    )


register(
    "top_supplier",
    q_top_supplier,
    """
    WITH revenue0 AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                   AS total_revenue_dec
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue_dec AS DOUBLE) AS total_revenue
    FROM revenue0 JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue_dec = (SELECT MAX(total_revenue_dec) FROM revenue0)
    """,
)


# ---------------------------------------------------------------------------
# Q19-shape: disjunctive (OR-of-ANDs) predicates across a join. Catalyst
# extracts the common l_partkey = p_partkey equi-condition so the join stays
# a hash join, keeps the OR residual as a post-join filter, and pushes the
# single-side conjuncts it can derive (l_quantity range union, p_size >= 1)
# down to the scans — the classic partial-pushdown test.
def q_disjunctive_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 5))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


register(
    "disjunctive_parts",
    q_disjunctive_parts,
    """
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)


# ---------------------------------------------------------------------------
# Q22-shape: rich-but-idle customers — AVG scalar subquery as the threshold
# + NOT EXISTS anti join (no orders since 2000-01-01; an unconditioned
# NOT EXISTS is vacuous on the synthetic data — every customer has orders),
# grouped report. Scale: the AVG collapses to one
# broadcast row; the anti join shuffles on custkey (or broadcasts orders'
# distinct custkeys if small); exact-decimal mean keeps the threshold
# bit-identical across engines.
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count("c_acctbal")
        ).alias("__avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("__avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


register(
    "idle_rich_customers",
    q_idle_rich_customers,
    """
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(c_acctbal)
            FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)


# ---------------------------------------------------------------------------
# Q10-shape: returned-item reporting — top 20 customers by returned revenue
# in a quarter. Scale: orders' date filter prunes before the join; customer
# join shuffles on custkey; top-k is a partial TakeOrdered (each partition
# keeps 20, driver merges 20·P rows — never a global sort of the aggregate).
# c_custkey tiebreak makes the LIMIT deterministic for the oracle hash.
def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


register(
    "returned_revenue",
    q_returned_revenue,
    """
    SELECT c_custkey, c_name, c_mktsegment,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c_custkey, c_name, c_mktsegment
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)


# ---------------------------------------------------------------------------
# Q8-shape: yearly market share of one supplier-nation inside one customer-
# region. Scale: nation/region broadcast twice (supplier side + customer
# side); the share is two decimal sums in ONE partial aggregate per year,
# divided once at the end — no second pass over the join.
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n_cust = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rev = _revenue()
    brazil = F.when(F.col("sn_name") == "BRAZIL", rev).otherwise(F.lit(0).cast(_DEC))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(brazil).cast("double") / F.sum(rev).cast("double")).alias(
                "mkt_share"
            )
        )
    )


register(
    "market_share",
    q_market_share,
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM(CASE WHEN sn.n_name = 'BRAZIL'
                         THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                         ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                  AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region   ON cn.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE r_name = 'AMERICA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_year
    """,
)


# ---------------------------------------------------------------------------
# Ranking-window family: ntile / percent_rank / cume_dist / lead /
# first_value / last_value-with-frame in ONE window spec. The partition
# ORDER BY ends in the unique o_orderkey, so every rank function is total-
# order deterministic (percent_rank and cume_dist are exact rationals both
# engines evaluate as (rank-1)/(n-1) and peers/n in doubles).
# Scale: one shuffle on o_orderpriority (5 partitions — skewed by design;
# a real deployment would sub-bucket, noted in SCALE.md), sort within.
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-04-01"
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    w_frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.max(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w_frame)
        .cast("double")
        .alias("running_max_price"),
    )


register(
    "window_suite",
    q_window_suite,
    """
    SELECT o_orderkey, o_orderpriority,
           NTILE(4)       OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST()    OVER w AS cume,
           LEAD(o_totalprice, 1) OVER w AS next_price,
           FIRST_VALUE(o_orderkey) OVER w AS first_key,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_orderpriority
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_max_price
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)
    """,
)


# ---------------------------------------------------------------------------
# Q2-shape: cheapest supplier per part (correlated-MIN subquery,
# decorrelated as a ranking window — the standard Spark argmin shape:
# rank by (price, suppkey) inside the part and keep rank 1; the unique
# suppkey tiebreak makes the pick total-order deterministic, which a raw
# MIN-equality join is not when two suppliers tie on price).
# Scale: one shuffle on partkey for the window; supplier dim broadcasts.
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    supp = _t(spark, sf_dir, "supplier")
    unit_price = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    offers = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_partkey", "p_brand", "l_suppkey", unit_price
    )
    w = Window.partitionBy("p_partkey").orderBy("unit_price", "l_suppkey")
    return (
        offers.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "unit_price")
    )


register(
    "min_cost_supplier",
    q_min_cost_supplier,
    """
    SELECT p_partkey, p_brand, s_suppkey, s_name, unit_price
    FROM (
        SELECT p_partkey, p_brand, l_suppkey,
               l_extendedprice / l_quantity AS unit_price,
               ROW_NUMBER() OVER (
                   PARTITION BY p_partkey
                   ORDER BY l_extendedprice / l_quantity, l_suppkey) AS rk
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_size = 15 AND p_type = 'STANDARD'
    )
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE rk = 1
    """,
)


# ---------------------------------------------------------------------------
# GROUPING SETS with non-hierarchical sets (not expressible as a rollup or
# cube) through the spark.sql() surface — one Expand + ONE shuffle for all
# three grouping combinations; grouping_id disambiguates subtotal rows
# from genuine NULL keys, exactly as in the ROLLUP/CUBE twins.
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
        """
    )


register(
    "grouping_sets",
    q_grouping_sets,
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                            (l_returnflag, l_linestatus))
    """,
)


# ---------------------------------------------------------------------------
# Q6-shape: pure scan-pushdown forecast — no join, every predicate reaches
# the parquet reader (date + discount + quantity), one partial+final agg
# over the surviving rows. The canonical "is pushdown actually working"
# probe: at 100 TB this query's cost is footer pruning + one column scan.
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(_DEC))
        .cast("double")
        .alias("revenue")
    )


register(
    "forecast_revenue",
    q_forecast_revenue,
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
      AND l_quantity < 24
    """,
)


# ---------------------------------------------------------------------------
# Q21-shape: suppliers solely responsible for returned lines in
# multi-supplier orders — the EXISTS + NOT EXISTS double correlation.
# Spark-first decorrelation: ONE aggregate over lineitem computes per-order
# (n_suppliers, n_return_suppliers); candidates join those stats instead of
# re-probing lineitem twice. The oracle keeps the textbook correlated
# EXISTS/NOT EXISTS form — same semantics, so DuckDB's own decorrelation
# must agree with ours. Top-k has a (numwait, s_name) total order.
def q_sole_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    order_stats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_return_suppliers"),
    )
    # row-level candidates (each qualifying R line counts, as in Q21's
    # count(*) over l1 — no distinct)
    candidates = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    blamed = (
        candidates.join(order_stats, "l_orderkey")
        .filter((F.col("n_suppliers") > 1) & (F.col("n_return_suppliers") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        blamed.join(F.broadcast(supp), blamed.l_suppkey == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


register(
    "sole_blame_supplier",
    q_sole_blame_supplier,
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1
    WHERE l1.l_suppkey = s_suppkey
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 10
    """,
)


# ---------------------------------------------------------------------------
# Q9-shape: product-type profit by supplier nation and year. The testdata
# star schema carries no partsupp table, so supply cost is proxied as
# 10% of retail price x quantity (the SHAPE under test is the 5-way join +
# profit expression, not TPC-H's cost model). lineitem-orders co-shuffles
# on orderkey (fact-fact); part/supplier/nation are broadcast dims; profit
# stays DECIMAL end to end so partial-aggregate merge order is moot.
# Scale: ONE fact-fact shuffle; the p_name filter prunes the broadcast
# side before the join, shrinking the fact early via the join itself.
def q_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("bolt"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    profit = _revenue() - (
        F.lit(0.10).cast("double") * F.col("p_retailprice") * F.col("l_quantity")
    ).cast(_DEC)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


register(
    "nation_profit",
    q_nation_profit,
    """
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                    - CAST(CAST(0.10 AS DOUBLE) * p_retailprice * l_quantity
                           AS DECIMAL(28,6))) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY n_name, o_year
    """,
)


# ---------------------------------------------------------------------------
# Q11-shape: "important stock" — per-part shipped value for one nation's
# suppliers, kept only where it exceeds a fraction of the nation total
# (scalar subquery threshold). No partsupp table: shipped value
# (quantity x retail price) over lineitem stands in for availqty x
# supplycost; the shape under test is agg -> tiny global agg -> broadcast
# threshold join. Scale: the per-part agg shuffles on l_partkey once; the
# nation-total reuses the SAME aggregated frame (|parts| rows, not a
# second fact scan) and broadcasts one row back.
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    value = (F.col("l_quantity") * F.col("p_retailprice")).cast(_DEC)
    per_part = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("p_partkey")
        .agg(F.sum(value).alias("value_dec"))
    )
    threshold = per_part.agg(
        (F.sum("value_dec") * F.lit(0.001).cast("double")).alias("__thresh")
    )
    return (
        per_part.join(F.broadcast(threshold), per_part.value_dec > threshold.__thresh)
        .select("p_partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


register(
    "important_parts",
    q_important_parts,
    """
    WITH per_part AS (
        SELECT p_partkey,
               SUM(CAST(l_quantity * p_retailprice AS DECIMAL(28,6))) AS value_dec
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY p_partkey
    )
    SELECT p_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM per_part
    WHERE value_dec > (SELECT SUM(value_dec) * CAST(0.001 AS DOUBLE) FROM per_part)
    """,
)


# ---------------------------------------------------------------------------
# Q16-shape: supplier variety per part attribute — COUNT(DISTINCT suppkey)
# over the observed part-supplier relation (distinct lineitem pairs stand
# in for the absent partsupp), excluding a blacklist of suppliers via
# broadcast ANTI join (Q16's NOT IN subquery; negative account balance
# stands in for the complaints-comment filter). Scale: the pair-distinct
# and the count-distinct share one shuffle on l_partkey-derived keys; the
# anti join is map-side (blacklist is control-plane-sized).
def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & (F.col("p_size").isin(5, 15, 25, 35, 45))
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp), pairs.l_suppkey == bad_supp.s_suppkey, "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


register(
    "supplier_variety",
    q_supplier_variety,
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (5, 15, 25, 35, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)


# ---------------------------------------------------------------------------
# Q20-shape: suppliers who moved serious volume of a part family in a year
# — the nested semi-join chain: part filter -> per-(supplier, part) shipped
# quantity -> threshold -> DISTINCT suppliers -> semi join supplier ->
# nation filter. No partsupp: the 0.5 x availqty bound becomes a flat
# quantity threshold on the year's shipments. Scale: one shuffle on
# (l_suppkey, l_partkey) for the agg; everything after operates on
# |suppliers|-sized sets; part and nation are broadcast.
def q_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("red"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_13", "NATION_23")
    )
    qualifying = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 30)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(qualifying, supp.s_suppkey == qualifying.l_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


register(
    "volume_suppliers",
    q_volume_suppliers,
    """
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_13', 'NATION_23')
      AND s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE 'red%'
            AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY l_suppkey, l_partkey
          HAVING SUM(l_quantity) > 30
      )
    """,
)


# ---------------------------------------------------------------------------
# As-of join (operators/asof.py): latest purchase at-or-before each click,
# per user — union + ordered-window carry, one shuffle, no range explosion.
# Right side pre-aggregated to one row per (user_id, ts) so both engines
# are deterministic (DuckDB ASOF JOIN has the same uniqueness contract).
def q_ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("p_value"))
    )
    return asof_join(clicks, purchases, on=["user_id"], right_cols=["p_value"])


register(
    "ext_asof_join",
    q_ext_asof_join,
    """
    WITH clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
        FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS p_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    )
    SELECT c.user_id, c.ts, c.event_id, c.value,
           p.ts AS ts_r, p.p_value AS p_value_r
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)


# ---------------------------------------------------------------------------
# Salted skew join (operators/skew.py): lineitem->orders with the fact side
# salted across (key, salt) tasks, then re-aggregated. The join output is
# invariant to salting, so the oracle is the plain join — which is exactly
# the point: same semantics, straggler-free physical shape.
def q_ext_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice", "l_quantity"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    joined = salted_join(li, orders, on=["o_orderkey"], salt_n=8)
    return joined.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").alias("sum_qty"),
    )


register(
    "ext_salted_join",
    q_ext_salted_join,
    """
    SELECT o.o_orderpriority, o.o_orderstatus,
           COUNT(*) AS n_items,
           SUM(l.l_quantity) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority, o.o_orderstatus
    """,
)


# ---------------------------------------------------------------------------
# Range join (operators/rangejoin.py): clicks attributed to 2-hour error
# windows per user via bucketized interval join (equi-join on
# (user_id, hour-bucket) + exact residual — no nested loop; plan-asserted
# in tests/test_plans.py). Aggregated to clicks-per-window.
def q_ext_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    windows = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    joined = range_join(
        clicks, windows, "ts", "w_start", "w_end", keys=["user_id"],
        bucket_width_seconds=3600,
    )
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.min("click_id").alias("first_click_id"),
    )


register(
    "ext_range_join",
    q_ext_range_join,
    """
    WITH clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS click_id
        FROM events WHERE event_type = 'click'
    ),
    win AS (
        SELECT user_id, event_id AS window_id,
               CAST(ts AS TIMESTAMP) AS w_start,
               CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR AS w_end
        FROM events WHERE event_type = 'error'
    )
    SELECT w.window_id, COUNT(*) AS n_clicks, MIN(c.click_id) AS first_click_id
    FROM clicks c JOIN win w
      ON c.user_id = w.user_id AND c.ts >= w.w_start AND c.ts < w.w_end
    GROUP BY w.window_id
    """,
)


# ---------------------------------------------------------------------------
# Bloom-pruned join (operators/bloom.py): lineitem probed against the
# urgent-order subset — the map-side bit-set filter drops most fact rows
# before the join shuffle; the result is provably identical to the plain
# join, which is exactly what the oracle checks.
def q_ext_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.bloom import bloom_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
    )
    return (
        bloom_join(li, urgent, on=["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


register(
    "ext_bloom_join",
    q_ext_bloom_join,
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_items, SUM(l.l_quantity) AS sum_qty
    FROM lineitem l
    JOIN (SELECT o_orderkey, o_orderpriority FROM orders
          WHERE o_orderpriority = '1-URGENT') o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# Join-key skew profile (operators/profiling.py): heavy-hitter census +
# straggler multiplier for a prospective shuffle key — the number that
# decides between plain hash join, AQE skew split, and an explicit salted
# join. One partial-agg'd shuffle on the key; top-k is TakeOrdered over
# the per-key count frame, stats reduce to one broadcast row.
def q_ext_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.profiling import key_skew_profile

    return key_skew_profile(_t(spark, sf_dir, "lineitem"), "l_suppkey", top_k=10)


register(
    "ext_skew_profile",
    q_ext_skew_profile,
    """
    WITH counts AS (
        SELECT l_suppkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1
    ), stats AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
               COUNT(*) AS n_keys, MAX(cnt) AS max_cnt
        FROM counts
    )
    SELECT key, cnt,
           CAST(cnt AS DOUBLE) / total_rows AS share,
           total_rows, n_keys,
           CAST(max_cnt AS DOUBLE)
               / (CAST(total_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))
               AS skew_factor
    FROM (SELECT * FROM counts ORDER BY cnt DESC, key LIMIT 10) t, stats
    """,
)
