"""Distributed connected components: near-dup pairs -> dedup groups.

Pair generators (``minhash_lsh_pairs``, ``simhash_neardup_pairs``,
``ngram_jaccard_pairs``) emit *edges*; actual deduplication needs the
transitive closure — every document labeled with its duplicate-group id so
one representative per group survives. This is the standard tail of a
web-scale dedup pipeline (the reference has no graph stage — its dataset
fits one pandas frame; at 100 TB the group structure must be computed
distributed).

Algorithm: iterative **min-label propagation** over the symmetrized edge
list (the "hash-to-min" scheme of Rastogi/Machanavajjhala/Chitnis/Das
Sarma, "Finding connected components in map-reduce in logarithmic rounds",
ICDE 2013) with a pointer jump per round. Each round is one shuffle-join +
one partial-aggregated groupBy + one label-sized join. Plain propagation
needs *diameter* rounds; the jump makes it near-logarithmic even on a
path graph (10 rounds on a 1,000-edge path, 14 on a 10,000-edge path).
Near-dup graphs are unions of LSH-bucket stars, so their diameter is small
anyway. Graphs small enough to collect are solved on the driver instead
(see ``driver_solve_edges``).

Scale notes:

- State per round is ``(node, label)`` — two longs; the edge list is
  re-used as-is each round. Shuffle payload never carries documents.
- ``localCheckpoint(eager=True)`` truncates lineage every round —
  without it the plan doubles per iteration and the driver dies at ~20
  rounds. On a multi-executor cluster prefer ``spark.sparkContext.
  setCheckpointDir`` + ``checkpoint()`` (survives executor loss;
  localCheckpoint trades that for speed, which is the right default on
  local[*] and acceptable when the caller re-runs on failure).
- The convergence probe is a scalar ``count()`` per round over the
  changed-label frame — O(1) driver memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 50,
    stats: dict | None = None,
    driver_solve_edges: int = 200_000,
) -> DataFrame:
    """Label every node with the minimum node id of its component.

    ``edges`` is an undirected pair list (one row per pair, either
    orientation). ``nodes`` optionally supplies the full node universe
    (isolated nodes — no incident edge — then appear with their own id as
    ``group_id``; otherwise only endpoint nodes are labeled).

    ``max_iter`` bounds the distributed rounds; a graph whose labels are
    still changing after ``max_iter`` rounds raises ``RuntimeError``
    rather than return a partial labeling.

    ``driver_solve_edges``: when the deduplicated symmetric edge list has
    at most this many directed rows, the component structure is solved
    with a driver-side union-find instead of iterative rounds (the same
    small-graph shortcut GraphFrames' ``connectedComponents`` takes via
    its broadcast threshold). Each distributed round costs ~3 shuffles
    regardless of size, so a 1k-edge graph otherwise pays 20-30 fixed
    stage latencies for microseconds of actual work. The collect is
    strictly bounded: 200k (node,node) rows ≈ a few MB — control-plane
    sized, like the k-centroid collects in clustering.py. Above the
    threshold the distributed path is unchanged; pass ``0`` to force it.

    ``stats``, when given a dict, receives ``{"rounds": n}`` on return
    (``rounds=0`` on the driver path).

    Returns ``(id_col, group_id)``, one row per node.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).filter(
        F.col("s") != F.col("d")
    )
    # Symmetrize once; both directions participate in every round. The
    # explode form reads the edge input ONCE — a self-union would evaluate
    # the (often expensive: LSH bucketing, cosine pair search) upstream
    # plan twice, since union branches share no computation.
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("s").alias("s"), F.col("d").alias("d")),
                    F.struct(F.col("d").alias("s"), F.col("s").alias("d")),
                )
            ).alias("__e")
        )
        .select("__e.s", "__e.d")
        .distinct()
    )
    sym = sym.persist()

    endpoint_ids = sym.select(F.col("s").alias(id_col))
    if nodes is not None:
        universe = nodes.select(F.col(id_col)).union(endpoint_ids).distinct()
    else:
        universe = endpoint_ids.distinct()

    if driver_solve_edges:
        # limit(N+1).collect() probe, on purpose (this reverses r13's
        # count-then-collect, which every independent r13 measurement set
        # showed regressing the CC consumers — the count pays a full
        # extra cache-materialization pass before the collect). The
        # executeTake ladder is a handful of micro-jobs here (<=4 rungs
        # at 32 reduce partitions; scaleUpFactor=4), and for an
        # OVER-threshold graph it short-circuits as soon as N+1 rows
        # arrive instead of counting the whole edge list — strictly less
        # work than count() on both sides of the gate. r14 min-of-5:
        # dedup_groups 2.23->2.04, entity_resolution 2.22->1.52,
        # pipeline_e2e 3.60->3.28 (plans/r14/floors.json).
        probe = sym.limit(driver_solve_edges + 1).collect()
        if len(probe) <= driver_solve_edges:
            # nodes (not universe): universe's plan references sym, which
            # is unpersisted on return — a caller action on the result
            # would silently re-run the whole upstream pair generation
            # (LSH chain). The union-find already holds every endpoint id
            # locally, so the returned plan references only `nodes` and a
            # local relation.
            labels = _driver_union_find(probe, sym, nodes, id_col)
            sym.unpersist()
            if stats is not None:
                stats["rounds"] = 0
            return labels

    labels = universe.select(id_col, F.col(id_col).alias("group_id"))
    labels = labels.localCheckpoint(eager=True)

    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # min label among neighbors, one join + one (partially aggregated)
        # groupBy — the only data-proportional work per round.
        nbr_min = (
            sym.join(labels, sym["d"] == labels[id_col], "inner")
            .groupBy(F.col("s").alias(id_col))
            .agg(F.min("group_id").alias("nbr_min"))
        )
        cand = labels.join(nbr_min, id_col, "left").select(
            id_col,
            F.least(
                F.col("group_id"), F.coalesce("nbr_min", F.col("group_id"))
            ).alias("__cand"),
            F.col("group_id").alias("__old"),
        )
        # lazy checkpoint: both the jump lookup and the output read cand —
        # one materialization, no double nbr_min compute.
        cand = cand.localCheckpoint(eager=False)
        # Pointer jump (Shiloach–Vishkin style): compose this round's
        # candidate mapping with itself — label values always name a node
        # of the same component, so taking cand(cand(u)) shortcuts chains
        # toward the component minimum. Plain neighbor propagation needs
        # O(diameter) rounds (measured 16 on the sf0.1 semantic-similarity
        # graph, whose moderate threshold leaves long chains); the jump
        # cuts that to near-logarithmic. One extra label-sized join per
        # round, same (node, label) payload.
        ptr = cand.select(
            F.col(id_col).alias("__cand"), F.col("__cand").alias("__jump")
        )
        new_labels = (
            cand.join(ptr, "__cand", "left")
            .select(
                id_col,
                F.least(
                    F.col("__cand"), F.coalesce("__jump", F.col("__cand"))
                ).alias("group_id"),
                (
                    F.least(F.col("__cand"), F.coalesce("__jump", F.col("__cand")))
                    < F.col("__old")
                ).alias("__changed"),
            )
        )
        # lazy checkpoint: the convergence probe right below is the action
        # that materializes it — one job per round instead of two
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("__changed")).limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter}"
            f" rounds: labels still changed in round {rounds}"
        )

    sym.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def _driver_union_find(
    edge_rows: list, sym: DataFrame, nodes: DataFrame | None, id_col: str
) -> DataFrame:
    """Solve CC for a sub-threshold edge list with a driver-side
    union-find (path-halving + min-root union), then ship the labels back
    as a small DataFrame joined to the node universe. ``edge_rows`` is
    the ALREADY-COLLECTED symmetric edge list (the caller's gate probe —
    no second materialization); ``sym`` contributes only schema/session.

    Only (node, node) pairs ever reach the driver, never payload columns,
    and the caller bounds the row count — this is the terminal step for a
    graph that *fits*, not a data-plane funnel. The min-root union makes
    the representative of every set its minimum id, matching the
    distributed contract exactly.

    The returned plan must NOT reference ``sym`` (the caller unpersists
    it on return, and its upstream — LSH pair generation, cosine search —
    is the expensive part of the whole job): every endpoint is collected
    here anyway, so the endpoint side of the universe is a local
    relation, and ``nodes`` (when given) is the only distributed input.
    """
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    seen: set = set()
    for s, d in edge_rows:
        seen.add(s)
        seen.add(d)
        if s >= d:  # symmetric list: each pair arrives in both orientations
            continue
        rs, rd = find(s), find(d)
        if rs != rd:
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo

    # every endpoint, self-roots included — the local relation IS the
    # endpoint universe, so no lineage back to sym survives.
    labeled = [(x, find(x)) for x in sorted(seen)]
    spark = sym.sparkSession
    id_type = sym.schema["s"].dataType
    schema = StructType(
        [StructField(id_col, id_type, False), StructField("group_id", id_type, False)]
    )
    label_df = spark.createDataFrame(labeled, schema)
    if nodes is None:
        return label_df
    universe = (
        nodes.select(F.col(id_col))
        .union(label_df.select(F.col(id_col)))
        .distinct()
    )
    return universe.join(F.broadcast(label_df), id_col, "left").select(
        id_col, F.coalesce("group_id", F.col(id_col)).alias("group_id")
    )


def dedup_group_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one row per duplicate group: the minimum-id member.

    Composes ``connected_components`` over the near-dup ``pairs`` with the
    source table — the canonical "LSH pairs -> groups -> survivors" tail of
    a dedup pipeline. Non-duplicated rows pass through untouched.
    """
    comps = connected_components(
        pairs, src=src, dst=dst, nodes=df.select(F.col(id_col).alias("id")), id_col="id"
    )
    keep = comps.filter(F.col("id") == F.col("group_id")).select(F.col("id").alias(id_col))
    # survivors are a small id set relative to df at dedup ratios; the join
    # shuffles only ids.
    return df.join(keep, id_col, "inner")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank (Brin & Page, WWW 1998) over a directed
    edge list, in quantized-exact arithmetic so a fixed run is
    value-checkable cross-engine (same discipline as
    ``clustering.kmeans_fit_predict``).

    Scores are BIGINTs on a 1e-9 grid: each iteration distributes
    ``score // outdeg`` (floor division, exact) along out-edges, sums
    exactly, and requantizes through one double multiply-add + round —
    identical in Spark and DuckDB (``pagerank_sql_twin``). Dangling-node
    mass is dropped (the simplest published variant; redistribute upstream
    if needed). Per iteration: one join + one partial-agg groupBy, state
    is (node, outdeg, score) — the CC loop's scale shape.

    ``iters`` must be >= 1: the loop's last round carries the eager
    checkpoint that pins the state before the edge cache is released.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    e = e.persist()
    nodes = (
        e.select(F.col("s").alias("id"))
        .union(e.select(F.col("d").alias("id")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("s").alias("id")).agg(F.count(F.lit(1)).alias("outdeg"))
    n = nodes.count()  # control plane: one scalar
    if n == 0:
        # EMPTY graph: PageRank of nothing is nothing — return the empty
        # (id, score) frame instead of dividing by zero on the driver.
        e.unpersist()
        return nodes.select("id", F.lit(0).cast("long").alias("score"))
    base = (1.0 - damping) * float(scale) / float(n)  # single double literal
    init = int(float(scale) / float(n))  # floor, matching CAST(... AS BIGINT)

    state = nodes.join(outdeg, "id", "left").select(
        "id",
        F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
        F.lit(init).cast("long").alias("score"),
    )
    # lazy checkpoints truncate lineage exactly like eager ones but defer
    # materialization: every round below materializes inside the ONE job
    # the final (eager) checkpoint runs, instead of one job per round.
    # The last round MUST be eager — it pins the whole chain (reading e
    # from cache) before e.unpersist(), so the returned plan never
    # re-executes the upstream edge derivation.
    state = state.localCheckpoint(eager=False)

    for it in range(iters):
        contrib = (
            e.join(state.filter(F.col("outdeg") > 0), e["s"] == F.col("id"))
            .select(F.col("d").alias("id"), F.expr("score div outdeg").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("mass"))
        )
        state = (
            state.join(contrib, "id", "left")
            .select(
                "id",
                "outdeg",
                F.round(
                    F.lit(base)
                    + F.lit(damping) * F.coalesce("mass", F.lit(0)).cast("double")
                )
                .cast("long")
                .alias("score"),
            )
            .localCheckpoint(eager=(it == iters - 1))
        )

    e.unpersist()
    return state.select("id", "score")


def pagerank_sql_twin(
    edges_sql: str,
    iters: int = 3,
    damping: float = 0.85,
    scale: int = 1_000_000_000,
) -> str:
    """DuckDB twin of ``pagerank`` over ``edges_sql`` (must yield columns
    (s, d)); generated beside the operator so they cannot drift."""
    d = repr(damping)
    sc = repr(float(scale))
    parts = [
        f"WITH e AS (SELECT DISTINCT s, d FROM ({edges_sql}))",
        "nodes AS (SELECT s AS id FROM e UNION SELECT d FROM e)",
        "odeg AS (SELECT s AS id, COUNT(*) AS outdeg FROM e GROUP BY s)",
        f"s0 AS (SELECT n.id, COALESCE(o.outdeg, 0) AS outdeg, "
        f"CAST(floor({sc} / (SELECT COUNT(*) FROM nodes)) AS BIGINT) AS score "
        f"FROM nodes n LEFT JOIN odeg o USING (id))",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"s{t} AS (SELECT p.id, p.outdeg, "
            f"CAST(round((1.0 - {d}) * {sc} / (SELECT COUNT(*) FROM nodes) "
            f"+ {d} * CAST(COALESCE(c.mass, 0) AS DOUBLE)) AS BIGINT) AS score "
            f"FROM s{t - 1} p LEFT JOIN ("
            f"SELECT e.d AS id, SUM(s.score // s.outdeg) AS mass "
            f"FROM e JOIN s{t - 1} s ON e.s = s.id WHERE s.outdeg > 0 "
            f"GROUP BY e.d) c USING (id))"
        )
    body = ",\n    ".join(parts)
    return f"{body}\n    SELECT id, score FROM s{iters}"


def triangle_count(
    edges: DataFrame,
    src: str = "s",
    dst: str = "d",
) -> DataFrame:
    """Count triangles in an undirected graph by compact-forward join
    (Latapy, "Main-memory triangle computations for very large (sparse)
    graphs", TCS 2008; the MapReduce formulation is Suri & Vassilvitskii,
    "Counting triangles and the curse of the last reducer", WWW 2011).

    ``edges`` may contain either/both orientations and self-loops; they are
    canonicalized to ``s < d`` distinct pairs first. Each triangle
    ``a < b < c`` is then found exactly once: the wedge join
    ``(a,b) ⋈ (b,c)`` builds paths, the closing join checks ``(a,c)``.

    Returns a single-row DataFrame ``(n_triangles,)``.

    Scale: two shuffle joins on single node-id keys; the intermediate is
    the wedge set (sum of deg²/2 under the canonical orientation). For
    skewed degree distributions, pre-orienting edges from low- to
    high-degree endpoints (degree ordering instead of id ordering) bounds
    per-node wedge counts — same join shape, one extra degree join; id
    ordering is kept here because it is what a SQL oracle can replicate
    without a tiebreak-sensitive degree ranking.
    """
    from pyspark import StorageLevel

    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("s"),
            F.greatest(F.col(src), F.col(dst)).alias("d"),
        )
        .filter(F.col("s") < F.col("d"))
        .distinct()
        # e feeds the wedge join TWICE and the closing join once; without
        # the persist the whole upstream edge derivation (for
        # ext_triangles: a lineitem self-join + md5 thinning + distinct)
        # ran three times — the r13 plan showed zero ReusedExchange
        # across the three legs. Released via session.cached_scope.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    wedges = e1.join(e2, F.col("e1.d") == F.col("e2.s")).select(
        F.col("e1.s").alias("a"), F.col("e1.d").alias("b"), F.col("e2.d").alias("c")
    )
    closed = wedges.join(
        e3, (F.col("a") == F.col("e3.s")) & (F.col("c") == F.col("e3.d"))
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))
