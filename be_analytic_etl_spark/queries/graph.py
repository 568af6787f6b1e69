"""Graph queries: PageRank, the triangle census, supplier ancestors (as
a DataFrame loop and as a recursive CTE) and the connected-component
dedup groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators.graph import triangle_count
from be_analytic_etl_spark.operators.sampling import hash_bucket, SPLIT_BUCKETS
from be_analytic_etl_spark.queries._shared import _t
from be_analytic_etl_spark.registry import register


# ---------------------------------------------------------------------------
# Dedup groups: connected components over a near-dup pair graph
# (operators/graph.py — hash-to-min label propagation, ICDE 2013). The edge
# fixture is two overlapping star partitions of `documents` — stars share
# members across the two keyings, so components span multiple hops and the
# oracle's recursive-CTE transitive closure checks real propagation, not
# just single-star membership. Isolated nodes keep their own id.
def q_ext_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from be_analytic_etl_spark.operators import graph as G

    docs = _t(spark, sf_dir, "documents")
    w1 = Window.partitionBy("lang", F.pmod(F.col("n_chars"), F.lit(7)))
    w2 = Window.partitionBy("source", F.pmod(F.col("n_chars"), F.lit(5)))
    edges = docs.select(
        F.min("doc_id").over(w1).alias("id_a"), F.col("doc_id").alias("id_b")
    ).unionByName(
        docs.select(F.min("doc_id").over(w2).alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    comps = G.connected_components(
        edges, nodes=docs.select(F.col("doc_id").alias("id"))
    )
    return comps.select(F.col("id").alias("doc_id"), "group_id")


register(
    "ext_dedup_groups",
    q_ext_dedup_groups,
    """
    WITH RECURSIVE
    e1 AS (SELECT MIN(doc_id) OVER (PARTITION BY lang, n_chars % 7) AS s,
                  doc_id AS d FROM documents),
    e2 AS (SELECT MIN(doc_id) OVER (PARTITION BY source, n_chars % 5) AS s,
                  doc_id AS d FROM documents),
    ed AS (SELECT s, d
           FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2) u
           WHERE s <> d),
    sym AS (SELECT s, d FROM ed UNION SELECT d, s FROM ed),
    reach(s, d) AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    )
    SELECT n.doc_id,
           LEAST(n.doc_id, COALESCE(MIN(r.d), n.doc_id)) AS group_id
    FROM documents n LEFT JOIN reach r ON r.s = n.doc_id
    GROUP BY n.doc_id
    """,
)


# ---------------------------------------------------------------------------
# PageRank (operators/graph.py): 3 fixed iterations over a deterministic
# 500-node directed graph derived from lineitem (orderkey%500 ->
# partkey%500) — an iterative link-analysis algorithm value-checked
# bit-for-bit via quantized-exact arithmetic (generated SQL twin).
def q_ext_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 500).alias("src"),
        (F.col("l_partkey") % 500).alias("dst"),
    )
    return pagerank(edges, iters=3)


def _pagerank_oracle() -> str:
    from be_analytic_etl_spark.operators.graph import pagerank_sql_twin

    return pagerank_sql_twin(
        "SELECT l_orderkey % 500 AS s, l_partkey % 500 AS d FROM lineitem",
        iters=3,
    )


register("ext_pagerank", q_ext_pagerank, _pagerank_oracle())


# ---------------------------------------------------------------------------
# Triangle census over the supplier co-purchase graph (suppliers sharing an
# order are adjacent). The raw co-occurrence graph on the synthetic data is
# near-complete, so edges are deterministically hash-thinned to 5% first —
# the same portable-bucket discipline as deterministic_sample, replicated
# in the oracle. Scale: the thinning is a map-side filter; the triangle
# join inherits compact-forward's wedge bound (operators/graph.py).
_TRI_KEEP = SPLIT_BUCKETS // 20  # 5% of edges


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("s"),
            F.col("b.l_suppkey").alias("d"),
        )
        # thin BEFORE distinct: the keep-decision is a pure function of the
        # pair, so filtering raw co-occurrences first shrinks the distinct's
        # shuffle by the keep ratio (20x) without changing the edge set
        .filter(
            hash_bucket(
                F.concat_ws("|", F.col("s"), F.col("d")), salt="tri"
            )
            < F.lit(_TRI_KEEP)
        )
        .distinct()
    )
    return triangle_count(edges)


register(
    "ext_triangles",
    q_triangles,
    f"""
    WITH pairs AS (
        SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS d
        FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ),
    e AS (
        SELECT s, d FROM pairs
        WHERE CAST('0x' || substr(md5(CAST(s AS VARCHAR) || '|'
                   || CAST(d AS VARCHAR) || '|tri'), 1, 15) AS BIGINT)
              % {SPLIT_BUCKETS} < {_TRI_KEEP}
    )
    SELECT COUNT(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.d = e2.s
    JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d
    """,
)


# ---------------------------------------------------------------------------
# Hierarchy expansion vs a recursive CTE: a binary-tree org chart is
# synthesized over suppliers (parent = suppkey div 2), expanded to every
# (node, ancestor, depth) by level-synchronous joins, and checked against
# DuckDB's WITH RECURSIVE — the one query family SQL engines express
# natively and Spark must iterate.
def q_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.hierarchy import transitive_ancestors

    supp = _t(spark, sf_dir, "supplier")
    edges = supp.filter(F.col("s_suppkey") >= 2).select(
        F.col("s_suppkey").alias("child"),
        F.expr("s_suppkey div 2").alias("parent"),
    )
    return transitive_ancestors(edges)


register(
    "ext_ancestors",
    q_ancestors,
    """
    WITH RECURSIVE anc AS (
        SELECT s_suppkey AS node, s_suppkey // 2 AS ancestor, 1 AS depth
        FROM supplier WHERE s_suppkey >= 2
        UNION ALL
        SELECT a.node, a.ancestor // 2, a.depth + 1
        FROM anc a WHERE a.ancestor >= 2
    )
    SELECT node, ancestor, depth FROM anc
    """,
)


# ---------------------------------------------------------------------------
# Native recursive CTE (Spark 4's WITH RECURSIVE) — the same ancestor
# expansion ext_ancestors computes with the iterative operator
# (operators/hierarchy.py), but expressed declaratively and executed by
# the engine's own recursion (UnionLoop). Registering BOTH forms keeps the
# operator as the scale path (explicit per-round checkpointing, bounded
# rounds) while proving the engine supports the SQL-standard surface a
# reference user would write first.
def q_recursive_cte_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("__rcte_supplier")
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
            SELECT s_suppkey AS node, s_suppkey DIV 2 AS ancestor, 1 AS depth
            FROM __rcte_supplier WHERE s_suppkey >= 2
            UNION ALL
            SELECT node, ancestor DIV 2, depth + 1 FROM anc WHERE ancestor >= 2
        )
        SELECT node, ancestor, depth FROM anc
        """
    )


register(
    "recursive_cte_ancestors",
    q_recursive_cte_ancestors,
    """
    WITH RECURSIVE anc AS (
        SELECT s_suppkey AS node, s_suppkey // 2 AS ancestor, 1 AS depth
        FROM supplier WHERE s_suppkey >= 2
        UNION ALL
        SELECT a.node, a.ancestor // 2, a.depth + 1
        FROM anc a WHERE a.ancestor >= 2
    )
    SELECT node, ancestor, depth FROM anc
    """,
)
