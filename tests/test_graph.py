"""Connected-components tests: known graphs with hand-computed answers.

The registered ext_dedup_groups query covers the oracle path (recursive
CTE transitive closure); here we pin the operator semantics on graphs
where propagation depth, isolated nodes, and component merging are exact.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators.graph import (
    connected_components,
    dedup_group_representatives,
)


def _labels(df):
    return {r["id"]: r["group_id"] for r in df.collect()}


def test_chain_propagates_min_over_many_hops(spark):
    # 0-1-2-...-9 single chain: min label must travel 9 hops.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"]
    )
    out = _labels(connected_components(edges))
    assert out == {i: 0 for i in range(10)}


def test_components_merge_and_isolated_nodes_survive(spark):
    # two components {1,2,3,7} (via 3-7 bridge) and {5,6}; node 9 isolated.
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (6, 5)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 7, 9]], ["id"])
    out = _labels(connected_components(edges, nodes=nodes))
    assert out == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5, 9: 9}


def test_self_loops_and_duplicate_edges_ignored(spark):
    edges = spark.createDataFrame(
        [(4, 4), (1, 2), (2, 1), (1, 2)], ["id_a", "id_b"]
    )
    out = _labels(connected_components(edges))
    # self-loop node 4 never enters via an edge endpoint pair (4,4) is
    # filtered; only {1,2} remain.
    assert out == {1: 1, 2: 1}


def test_representatives_keep_min_per_group(spark):
    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5)], ["id_a", "id_b"])
    kept = dedup_group_representatives(df, pairs, "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2, 4]


def test_salted_join_equals_plain_join(spark):
    """salted_join output is identical to the unsalted join, and the
    physical join key carries the salt (no single-task hot key)."""
    from be_analytic_etl_spark.operators.skew import SALT, salted_join

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    salted = salted_join(li, orders, on=["k"], salt_n=4)
    plain = li.join(orders, "k")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    assert SALT not in salted.columns
    # left-join keeps unmatched skewed rows exactly once
    lonely = spark.createDataFrame([(999999999, 1.0)], ["k", "l_quantity"])
    lj = salted_join(lonely, orders, on=["k"], how="left")
    assert lj.count() == 1


def test_range_join_equals_naive_range_predicate(spark):
    """Bucketized range join == naive cross-filter, including intervals
    spanning many buckets and points on bucket boundaries."""
    import datetime as dt

    from be_analytic_etl_spark.operators.rangejoin import range_join

    d = dt.datetime
    pts = spark.createDataFrame(
        [(1, d(2024, 1, 1, h, m), f"p{h}{m}") for h in range(6) for m in (0, 30)],
        ["k", "ts", "pid"],
    )
    iv = spark.createDataFrame(
        [
            (1, d(2024, 1, 1, 0, 30), d(2024, 1, 1, 4, 0), "long"),  # 3.5h span
            (1, d(2024, 1, 1, 2, 0), d(2024, 1, 1, 2, 30), "short"),
            (2, d(2024, 1, 1, 0, 0), d(2024, 1, 2, 0, 0), "wrong-key"),
        ],
        ["k", "s", "e", "iid"],
    )
    fast = range_join(pts, iv, "ts", "s", "e", keys=["k"], bucket_width_seconds=3600)
    naive = pts.join(iv, "k").filter((F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e")))
    got = sorted((r["pid"], r["iid"]) for r in fast.collect())
    want = sorted((r["pid"], r["iid"]) for r in naive.collect())
    assert got == want and len(got) > 0
    # boundary semantics: point exactly at start included, at end excluded
    assert ("p030", "long") in got and ("p40", "long") not in got


def test_bloom_prune_keeps_all_matches(spark):
    """Bloom pruning never drops a true match; join result identical to
    the plain join; pruning actually removes rows."""
    from be_analytic_etl_spark.operators.bloom import bloom_build, bloom_prune

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    sub = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
    )
    bits = bloom_build(sub, "k", m_bits=2048, k=3)
    pruned = bloom_prune(li, bits, "k")
    # superset of true matches
    true_matches = li.join(sub, "k", "left_semi")
    assert true_matches.exceptAll(pruned.join(sub, "k", "left_semi")).count() == 0
    # actually prunes (fp rate << 1 at this fill factor)
    assert 0 < pruned.count() < li.count()
    # join equivalence
    a = pruned.join(sub, "k").groupBy().agg(F.sum("l_quantity")).collect()
    b = li.join(sub, "k").groupBy().agg(F.sum("l_quantity")).collect()
    assert a == b


def test_pagerank_favors_sink_hub(spark):
    """Star pointing at a hub: the hub's rank ends far above the leaves,
    and leaves keep the teleport floor."""
    from be_analytic_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 10)], ["src", "dst"]
    )
    out = {r["id"]: r["score"] for r in pagerank(edges, iters=5).collect()}
    hub, leaves = out[0], [out[i] for i in range(1, 10)]
    assert hub > 5 * max(leaves)
    # total mass conserved within rounding (dangling hub loses its mass
    # each round, so total < scale but every score stays >= teleport base)
    base = 0.15 * 1_000_000_000 / 10
    assert all(s >= int(base) - 1 for s in leaves)


def test_transitive_ancestors_known_tree(spark):
    from be_analytic_etl_spark.operators.hierarchy import transitive_ancestors

    # 1 <- 2,3 ; 2 <- 4,5 ; 3 <- 6
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 2), (5, 2), (6, 3)], "child long, parent long"
    )
    out = sorted(
        (r["node"], r["ancestor"], r["depth"])
        for r in transitive_ancestors(edges).collect()
    )
    assert out == sorted(
        [
            (2, 1, 1), (3, 1, 1), (4, 2, 1), (5, 2, 1), (6, 3, 1),
            (4, 1, 2), (5, 1, 2), (6, 1, 2),
        ]
    )


def test_transitive_ancestors_cycle_raises(spark):
    from be_analytic_etl_spark.operators.hierarchy import transitive_ancestors

    cyc = spark.createDataFrame([(1, 2), (2, 1)], "child long, parent long")
    with pytest.raises(RuntimeError):
        transitive_ancestors(cyc, max_iter=5)


# --- distributed propagation (forced with driver_solve_edges=0) -------------


def test_propagation_converges_logarithmically_on_path_graph(spark):
    """Plain min-label propagation needs ~1000 rounds on a 1000-edge path;
    the per-round pointer jump must finish in near-logarithmic rounds —
    well under 20 (10 measured)."""
    n = 1000
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    stats: dict = {}
    labels = connected_components(e, stats=stats, driver_solve_edges=0)
    assert 1 <= stats["rounds"] < 20, stats
    got = labels.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("group_id").alias("g")
    ).first()
    assert got["n"] == n + 1
    assert got["g"] == 1
    assert labels.filter(F.col("group_id") != 0).count() == 0


def test_propagation_that_does_not_converge_raises(spark):
    """A path that needs more than max_iter rounds must fail loudly, not
    return a partial labeling (3 rounds left 987 groups on this path)."""
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1000)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match=r"max_iter=3.*round 3"):
        connected_components(e, max_iter=3, driver_solve_edges=0)


def test_distributed_cc_isolated_nodes_and_stats(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    nodes = spark.range(0, 15).select(F.col("id"))
    stats: dict = {}
    labels = connected_components(
        e, nodes=nodes, stats=stats, driver_solve_edges=0
    )
    got = {r["id"]: r["group_id"] for r in labels.collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    # isolated nodes label themselves
    for i in [0, 4, 5, 6, 7, 8, 9, 12, 13, 14]:
        assert got[i] == i
    assert stats["rounds"] >= 1


def test_driver_union_find_matches_distributed_propagation(spark):
    """The sub-threshold driver path must agree with the distributed
    propagation loop (forced via driver_solve_edges=0) on a random graph
    with merges, chains, isolated nodes, and string-free long ids."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(300)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.range(0, 250).select(F.col("id"))
    stats_fast: dict = {}
    stats_dist: dict = {}
    fast = connected_components(e, nodes=nodes, stats=stats_fast)
    dist = connected_components(
        e, nodes=nodes, stats=stats_dist, driver_solve_edges=0
    )
    assert stats_fast["rounds"] == 0  # took the union-find path
    assert stats_dist["rounds"] >= 1  # took the iterative path
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, dist.collect()))


def test_star_cc_matches_propagation_on_random_graph(spark):
    """Endpoint-only labelling (no node universe) on a sparse random graph
    with many small components: the default path and the forced
    distributed propagation must return the same (id, group_id) set."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    default = {
        (r["id"], r["group_id"]) for r in connected_components(e).collect()
    }
    prop = {
        (r["id"], r["group_id"])
        for r in connected_components(e, driver_solve_edges=0).collect()
    }
    assert default == prop


def test_driver_cc_result_does_not_reexecute_edge_plan(spark):
    """The driver union-find path collects every endpoint, so the
    returned labels plan must reference only `nodes` + a local relation
    — NOT the (expensive, unpersisted-on-return) edge plan. Regression:
    the universe used to be built from the symmetrized edges, silently
    re-running the whole upstream pair generation on the first action."""
    from pyspark.sql import functions as F

    from be_analytic_etl_spark.operators.graph import connected_components

    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(x):
        acc.add(1)
        return x

    base = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    edges = base.select(tick("id_a").alias("id_a"), F.col("id_b"))
    nodes = spark.range(1, 13).select(F.col("id"))
    labels = connected_components(edges, nodes=nodes, id_col="id")
    seen_during_solve = acc.value
    assert seen_during_solve > 0  # edges were evaluated to solve
    got = {r["id"]: r["group_id"] for r in labels.collect()}
    assert acc.value == seen_during_solve, "edge plan re-executed by the result action"
    assert got[3] == 1 and got[11] == 10 and got[7] == 7
    assert len(got) == 12
