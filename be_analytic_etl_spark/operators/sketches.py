"""Distinct-count sketching: HyperLogLog built from column expressions.

``approx_count_distinct`` is Spark's native HLL++ and the right tool in
production — but its estimate is engine-private, so nothing outside Spark
can verify it. This implementation is the textbook HLL (Flajolet, Fusy,
Gandouet, Meunier, "HyperLogLog: the analysis of a near-optimal
cardinality estimation algorithm", AofA 2007) over the engine's portable
md5 hash, making the *estimate itself* reproducible bit-for-bit by any
engine with md5 — the same portability discipline as minhash/simhash.

Determinism details (the part that usually breaks cross-engine):

- register index = top ``p`` bits, rank = leading-zero count of the
  remaining ``60 - p`` bits via ``length(bin(x))`` — integer-exact, no
  log2 edge cases;
- the harmonic denominator ``sum(2^-M)`` is accumulated as scaled
  integers ``2^(hbits+1-M)`` in BIGINT (exact, order-free) instead of
  floating-point partial sums;
- the final estimate is ONE double division of two exactly-determined
  numbers (the alpha*m^2 numerator is a single Python-computed literal).

The bias corrections for small/large range (linear counting under 2.5m,
the 2^32 wraparound) involve ``ln`` — libm-dependent, so they live behind
``corrected=False`` and default OFF for the oracle-checked path; flip on
for production use where cross-engine bit-equality doesn't matter.

Scale: two partial-aggregated groupBys — (group, 2^p registers) then
(group) — shuffle payload is at most m=2^p small rows per group. For one
global count that is 256 rows total: sketch-sized, mergeable, the same
shape HLL unions take in any warehouse.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators.textstats import portable_hash60

HASH_BITS = 60


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
    salt: str = "hll",
) -> DataFrame:
    """Per-group HLL register state: ``(…group_cols, __idx, __m)`` with
    ``2^p`` possible registers holding the max rank seen. This IS the
    sketch — fixed-size, and mergeable across any grouping dimension by
    register-wise MAX (``hll_merge_registers``), the property that lets
    per-shard / per-day sketches roll up without touching raw data."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    vbits = HASH_BITS - p  # suffix width used for the rank
    mask = (1 << vbits) - 1

    h = portable_hash60(
        F.concat(F.col(value_col).cast("string"), F.lit(f"|{salt}"))
    )
    idx = F.shiftright(h, vbits)
    rest = h.bitwiseAND(F.lit(mask))
    # rank = leading zeros in the vbits-wide suffix + 1; bin() has no
    # leading zeros so bit_length == length(bin(x)) for x > 0.
    rank = F.when(rest == 0, F.lit(vbits + 1)).otherwise(
        F.lit(vbits + 1) - F.length(F.bin(rest))
    )
    return (
        df.select(*group_cols, idx.alias("__idx"), rank.alias("__rank"))
        .groupBy(*group_cols, "__idx")
        .agg(F.max("__rank").alias("__m"))
    )


def hll_merge_registers(
    regs: DataFrame, keep_group_cols: list[str]
) -> DataFrame:
    """Union sketches by dropping grouping dimensions: register-wise MAX.
    Exactly equal to the registers computed directly on the combined
    data (max is associative/commutative) — the warehouse HLL-union."""
    return regs.groupBy(*keep_group_cols, "__idx").agg(
        F.max("__m").alias("__m")
    )


def hll_estimate(
    regs: DataFrame,
    group_cols: list[str],
    p: int = 8,
    corrected: bool = False,
    estimate_col: str = "hll_estimate",
) -> DataFrame:
    """Estimate from register state (see ``hll_registers``): scaled-
    integer harmonic mean — exact BIGINT arithmetic up to one final
    double division, so the estimate is engine-identical."""
    m = 1 << p
    vbits = HASH_BITS - p
    # scaled-integer harmonic sum: occupied register M contributes
    # 2^(vbits+1-M); each of the (m - occupied) empty ones contributes
    # 2^(vbits+1) (i.e. 2^-0 scaled). Max total m*2^(vbits+1) < 2^63.
    scaled = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({vbits + 1} - __m AS INT))"
    )
    per_group = regs.groupBy(*group_cols).agg(
        F.sum(scaled).alias("__occ_sum"),
        F.count(F.lit(1)).alias("n_registers_used"),
    )
    empty_term = (F.lit(m) - F.col("n_registers_used")) * F.lit(1 << (vbits + 1))
    denom = (F.col("__occ_sum") + empty_term).cast("double")
    numerator = _alpha(m) * m * m * float(1 << (vbits + 1))  # one literal
    est = F.lit(numerator) / denom
    if corrected:
        zeros = F.lit(m) - F.col("n_registers_used")
        lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
        est = F.when((est <= 2.5 * m) & (zeros > 0), lc).otherwise(est)
    return per_group.select(
        *group_cols, est.alias(estimate_col), "n_registers_used"
    )


def countmin_estimates(
    df: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 64,
    salt: str = "cms",
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan, "An improved data stream
    summary: the count-min sketch and its applications", J. Algorithms
    2005) of ``value_col`` frequencies, probed for every distinct value:
    ``estimate = min_i counter[i][h_i(x)]`` with d portable-hash rows of
    width w. Estimates never undercount; collisions only inflate.

    Fully integer + portable hash -> the DuckDB twin reproduces every
    counter and estimate exactly (``countmin_sql_twin``).

    Scale: the sketch is d*w counters built by one explode(d) + groupBy —
    mergeable partial aggregates, the classic streaming-summary shape; the
    probe joins only distinct values against d*w rows (broadcast).
    """
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                (
                    portable_hash60(
                        F.concat(
                            F.col(value_col).cast("string"), F.lit(f"|{salt}{i}")
                        )
                    )
                    % F.lit(w)
                ).alias("bucket"),
            )
            for i in range(d)
        ]
    )
    hashed = df.select(F.col(value_col).alias("v"), F.explode(rows).alias("rb")).select(
        "v", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    )
    counters = hashed.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("c"))
    probes = hashed.distinct()
    return (
        probes.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy(F.col("v").alias(value_col))
        .agg(F.min("c").alias("cms_estimate"))
    )


def countmin_sql_twin(
    table: str, value_expr: str, d: int = 4, w: int = 64, salt: str = "cms"
) -> str:
    """DuckDB twin of ``countmin_estimates`` (generated together)."""
    branches = " UNION ALL ".join(
        f"SELECT v, {i} AS row, "
        f"CAST('0x' || substr(md5(CAST(v AS VARCHAR) || '|{salt}{i}'), 1, 15) AS BIGINT) "
        f"% {w} AS bucket FROM vals"
        for i in range(d)
    )
    return f"""
    WITH vals AS (SELECT {value_expr} AS v FROM {table}),
    hashed AS ({branches}),
    counters AS (SELECT row, bucket, COUNT(*) AS c FROM hashed GROUP BY row, bucket),
    probes AS (SELECT DISTINCT v, row, bucket FROM hashed)
    SELECT p.v, MIN(c.c) AS cms_estimate
    FROM probes p JOIN counters c USING (row, bucket)
    GROUP BY p.v
    """


def hll_union_sql_twin(
    table: str,
    group_col: str,
    value_expr: str,
    p: int = 8,
    salt: str = "hll",
    estimate_col: str = "hll_estimate",
) -> str:
    """DuckDB twin of the register-merge rollup: per-group estimates
    UNION ALL one 'ALL' row from register-wise-MAX-merged sketches —
    generated from the same parameters as the operator so they can't
    drift."""
    m = 1 << p
    vbits = HASH_BITS - p
    mask = (1 << vbits) - 1
    numerator = repr(_alpha(m) * m * m * float(1 << (vbits + 1)))
    return f"""
    WITH hashed AS (
        SELECT {group_col},
               CAST('0x' || substr(md5(CAST({value_expr} AS VARCHAR) || '|{salt}'), 1, 15)
                    AS BIGINT) AS h
        FROM {table}
    ),
    regs AS (
        SELECT {group_col}, h >> {vbits} AS idx,
               MAX(CASE WHEN (h & {mask}) = 0 THEN {vbits + 1}
                        ELSE {vbits + 1} - length(bin(h & {mask})) END) AS m
        FROM hashed GROUP BY {group_col}, idx
    ),
    merged AS (SELECT idx, MAX(m) AS m FROM regs GROUP BY idx),
    scoped AS (
        SELECT CAST({group_col} AS VARCHAR) AS scope, idx, m FROM regs
        UNION ALL
        SELECT 'ALL', idx, m FROM merged
    ),
    agg AS (
        SELECT scope,
               SUM(CAST(1 AS BIGINT) << ({vbits + 1} - m)) AS occ_sum,
               COUNT(*) AS n_registers_used
        FROM scoped GROUP BY scope
    )
    SELECT scope,
           {numerator} / CAST(occ_sum + ({m} - n_registers_used)
                              * (CAST(1 AS BIGINT) << {vbits + 1}) AS DOUBLE)
               AS {estimate_col},
           n_registers_used
    FROM agg
    """


def heavy_hitters_exact(
    df: DataFrame, item_col: str, k: int = 64
) -> DataFrame:
    """Exact heavy hitters: every item with frequency > n/k, with its
    EXACT count — (item, cnt, n, freq).

    Two-phase plan (the classic sketch-then-verify shape): phase 1
    collects Misra–Gries candidates per partition (O(k) state, no
    shuffle of the vocabulary); phase 2 broadcast-semi-joins the
    candidate set onto the corpus and exactly counts ONLY candidates —
    the groupBy shuffles at most k·partitions distinct keys instead of
    the whole vocabulary, and the n/k threshold test cnt·k > n is
    integer-exact. The output is therefore deterministic (exact counts,
    exact threshold) no matter how the input was partitioned — the MG
    phase only ever changes which NON-hitters get pre-filtered.

    freq = cnt/n is the single IEEE division (emitted raw).
    """
    import pandas as pd

    items = df.select(F.col(item_col).cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )

    # Per-partition Misra–Gries candidate pass (Misra & Gries 1982; merge
    # rule from Agarwal et al., "Mergeable Summaries", PODS 2012). Each
    # Arrow batch's exact value_counts merge into the running summary in
    # vocabulary slices of at most k items, with the MG reduction
    # (subtract the (k+1)-th largest count, keep positives) after each
    # slice, so the result is a valid MG summary of the partition
    # whatever the batch boundaries: any item with GLOBAL frequency > n/k
    # has LOCAL frequency > n_p/k in some partition and survives there.
    # State is O(k) per partition. The pass ALSO emits the partition's
    # exact item count as a sentinel row (item=NULL), so the total n
    # comes from the sketch-sized candidate frame instead of a third
    # full pass over the item stream.
    def mg_with_total(batches):
        counts: dict[str, int] = {}
        n_p = 0
        for pdf in batches:
            vc = pdf["item"].dropna().value_counts()
            n_p += int(vc.sum())
            mg_items = vc.index.to_list()
            cs = vc.to_list()
            for start in range(0, len(mg_items), k):
                for item, c in zip(
                    mg_items[start : start + k], cs[start : start + k]
                ):
                    counts[item] = counts.get(item, 0) + int(c)
                if len(counts) > k:
                    kth = sorted(counts.values(), reverse=True)[k]
                    counts = {
                        i: c - kth for i, c in counts.items() if c > kth
                    }
        yield pd.DataFrame(
            {
                "item": list(counts.keys()) + [None],
                "__np": [None] * len(counts) + [n_p],
            }
        )

    # eager: cands and total are consumed by CONCURRENT broadcast-build
    # jobs, which would race a lazy checkpoint into running the corpus
    # pass twice.
    sketch = items.mapInPandas(mg_with_total, "item string, __np long").localCheckpoint(
        eager=True
    )
    cands = sketch.filter(F.col("item").isNotNull()).select("item").distinct()
    total = sketch.agg(F.sum("__np").cast("long").alias("n"))
    counted = (
        items.join(F.broadcast(cands), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("n"))
        .select(
            "item",
            "cnt",
            "n",
            (F.col("cnt").cast("double") / F.col("n").cast("double")).alias(
                "freq"
            ),
        )
    )


# ---------------------------------------------------------------------------
# t-digest-style quantile summary (Dunning & Ertl, "Computing extremely
# accurate quantiles using t-digests", 2019 — the arcsine k_1 scale
# function) over a bounded value histogram.


def tdigest_scale_millionths(delta: int) -> list[int]:
    """Cluster boundaries of the t-digest arcsine scale function, as
    exact integer millionths of the cumulative-probability axis.

    k_1(q) = (delta / 2pi) * asin(2q - 1) cuts [0,1] into ``delta``
    clusters at q_j = sin^2(pi*j / (2*delta)) — fine clusters at BOTH
    tails (where quantile error matters), coarse in the middle. The
    j-th boundary is quantized HOST-side to millionths, so the Spark
    plan and the SQL oracle embed IDENTICAL integer literals and no
    libm call ever runs inside either engine. q_delta is exactly
    1_000_000 (sin(pi/2) = 1)."""
    out = []
    for j in range(1, delta + 1):
        s = math.sin(math.pi * j / (2.0 * delta)) ** 2
        out.append(min(1_000_000, int(math.floor(s * 1_000_000 + 0.5))))
    out[-1] = 1_000_000
    return out


def tdigest_clusters(df: DataFrame, value_col: str, delta: int = 32) -> DataFrame:
    """t-digest-style clustered quantile summary of an exact-integer
    column (the caller quantizes, e.g. ``floor`` of a currency value):
    (cluster, weight, centroid, v_min, v_max), at most ``delta`` rows.

    The textbook t-digest streams points into centroids greedily, which
    makes the digest ORDER-DEPENDENT — useless under a driver that
    value-hashes results. This form is the deterministic batch variant:
    the corpus collapses to a bounded value histogram (ONE
    partial-aggregated groupBy; rows <= the value domain, independent of
    corpus size — the roc_auc discipline), ranks come from a cumulative
    sum over that bounded frame, and cluster c owns exactly the ranks in
    (r_{c-1}, r_c] where r_c = (n * q_c + 500000) div 1000000 with q_c
    the host-quantized arcsine boundaries. Every value's rank span
    [lo, hi] is exploded over only the clusters it overlaps (a histogram
    row spans >1 cluster only at cluster borders, so the explode adds
    at most ``delta`` rows). Weights and v*weight sums are
    BIGINT/DECIMAL-exact; each centroid is one IEEE division — the whole
    summary is bit-identical on any engine.

    Merge story: the histogram itself is the mergeable substrate
    (counts add), so shards combine by unioning histograms before the
    rank pass — unlike greedy digests, merging cannot change the result.
    """
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    return tdigest_clusters_from_hist(hist, delta)


def tdigest_cum(hist: DataFrame) -> DataFrame:
    """Cumulative form of a (__v, __c) value histogram: (__v, __c, __hi,
    __lo) where [__lo, __hi] is the 1-based rank span the value owns.
    Shared by the cluster build AND the exact-order-statistic read so a
    panel pays the single-partition ordering window ONCE (it showed up
    twice — ~1.2 s each at sf0.1 — in the r13 stage profile of
    ``ext_tdigest_panel``)."""
    w_ord = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        "__v",
        "__c",
        F.sum("__c").over(w_ord).cast("long").alias("__hi"),
    ).withColumn("__lo", F.col("__hi") - F.col("__c") + 1)


def tdigest_rank_bounds(cum: DataFrame, delta: int) -> DataFrame:
    """One-row broadcastable frame (__n, __r): the total count and the
    cluster rank boundaries r_0..r_delta. ``__r`` depends ONLY on __n and
    host constants, so it is computed here ONCE instead of per histogram
    row (it was a 33-element transform+concat evaluated ~115k times per
    pass at sf0.1 — pure constant work hoisted out of the row loop; the
    emitted values are identical)."""
    return _rank_bounds_from_n(
        cum.agg(F.max("__hi").cast("long").alias("__n")), delta
    )


def _rank_bounds_from_n(nf: DataFrame, delta: int) -> DataFrame:
    """Rank-bounds frame from any one-row (__n BIGINT) frame — callers
    holding a plain histogram derive __n from ``sum(__c)`` (identical to
    ``max(__hi)`` over the cumulative form, without evaluating the
    single-partition ordering window a second time)."""
    qs = tdigest_scale_millionths(delta)
    qarr = "array(" + ",".join(str(q) + "L" for q in qs) + ")"
    # r_c for c = 1..delta, with r_0 = 0 prepended (element_at is 1-based:
    # __r[c] = r_{c-1}, __r[c+1] = r_c).
    return nf.withColumn(
        "__r",
        F.expr(
            f"concat(array(0L), transform({qarr},"
            " q -> (__n * q + 500000L) DIV 1000000L))"
        ),
    )


def tdigest_clusters_from_hist(hist: DataFrame, delta: int = 32) -> DataFrame:
    """``tdigest_clusters`` from a pre-built (__v, __c) value histogram —
    the entry point for callers that hold a plain histogram."""
    # Bounds from the PLAIN histogram (sum(__c) == max(__hi) by
    # construction): a non-checkpointed caller would otherwise evaluate
    # the single-partition ordering window twice — once under the bounds
    # agg, once in the crossJoin branch (r13 advice item 2).
    bounds = _rank_bounds_from_n(
        hist.agg(F.sum("__c").cast("long").alias("__n")), delta
    )
    return tdigest_clusters_from_cum(tdigest_cum(hist), delta, bounds=bounds)


def tdigest_clusters_from_cum(
    cum: DataFrame, delta: int = 32, *, bounds: DataFrame | None = None
) -> DataFrame:
    """``tdigest_clusters`` from the cumulative histogram (``tdigest_cum``
    output) — callers holding a (checkpointed) cum frame skip the second
    ordering pass entirely."""
    # Total n via agg + broadcast (NOT a second unpartitioned window —
    # that would add another single-task exchange+sort pass over the
    # histogram); the one remaining global-order window is the bounded
    # rank pass this operator is allowed (roc_auc discipline).
    if bounds is None:
        bounds = tdigest_rank_bounds(cum, delta)
    cum = cum.crossJoin(F.broadcast(bounds))
    c_lo = F.expr("size(filter(slice(__r, 2, size(__r) - 1), r -> r < __lo)) + 1")
    c_hi = F.expr("size(filter(slice(__r, 2, size(__r) - 1), r -> r < __hi)) + 1")
    rows = cum.select(
        "__v",
        "__lo",
        "__hi",
        "__r",
        F.explode(F.sequence(c_lo, c_hi)).alias("cluster"),
    )
    weight = (
        F.least(F.col("__hi"), F.expr("element_at(__r, cluster + 1)"))
        - F.greatest(F.col("__lo"), F.expr("element_at(__r, cluster) + 1"))
        + F.lit(1)
    ).cast("long")
    rows = rows.select(
        F.col("cluster").cast("int").alias("cluster"),
        "__v",
        weight.alias("__w"),
    ).filter(F.col("__w") > 0)
    agg = rows.groupBy("cluster").agg(
        F.sum("__w").cast("long").alias("weight"),
        F.sum(F.col("__v").cast("decimal(38,0)") * F.col("__w")).alias("__vw"),
        F.min("__v").cast("long").alias("v_min"),
        F.max("__v").cast("long").alias("v_max"),
    )
    return agg.select(
        "cluster",
        "weight",
        (F.col("__vw").cast("double") / F.col("weight").cast("double")).alias(
            "centroid"
        ),
        "v_min",
        "v_max",
    )


def tdigest_clusters_sql(value_rows: str, delta: int = 32) -> str:
    """DuckDB twin of ``tdigest_clusters``: ``value_rows`` yields (v)
    with v an exact integer. Kept beside the column form so the
    boundary/rank arithmetic can never drift. __vw is an unbounded
    exact accumulator -> exact_dec_double_sql."""
    from be_analytic_etl_spark.functions.rounding import exact_dec_double_sql

    qs = tdigest_scale_millionths(delta)
    vals = ", ".join(f"({j + 1}, {q})" for j, q in enumerate(qs))
    vw_d = exact_dec_double_sql("__vw")
    return f"""
    td_h AS (
        SELECT v AS __v, CAST(COUNT(*) AS BIGINT) AS __c
        FROM ({value_rows}) WHERE v IS NOT NULL GROUP BY 1
    ), td_c AS (
        SELECT __v, __c,
               CAST(SUM(__c) OVER (ORDER BY __v) AS BIGINT) AS __hi,
               CAST(SUM(__c) OVER () AS BIGINT) AS __n
        FROM td_h
    ), td_q (c, q) AS (VALUES {vals}),
    td_b AS (
        SELECT td_q.c, td_q.q,
               (td_c0.__n * td_q.q + 500000) // 1000000 AS r,
               COALESCE(LAG((td_c0.__n * td_q.q + 500000) // 1000000)
                        OVER (ORDER BY td_q.c), 0) AS r_prev
        FROM td_q, (SELECT MAX(__n) AS __n FROM td_c) td_c0
    ), td_x AS (
        SELECT b.c AS cluster, h.__v,
               LEAST(h.__hi, b.r)
                 - GREATEST(h.__hi - h.__c + 1, b.r_prev + 1) + 1 AS __w
        FROM td_c h JOIN td_b b
          ON b.r_prev < h.__hi AND b.r >= h.__hi - h.__c + 1
    ), td_a AS (
        SELECT CAST(cluster AS INTEGER) AS cluster,
               CAST(SUM(__w) AS BIGINT) AS weight,
               SUM(CAST(__v AS DECIMAL(38,0)) * __w) AS __vw,
               CAST(MIN(__v) AS BIGINT) AS v_min,
               CAST(MAX(__v) AS BIGINT) AS v_max
        FROM td_x WHERE __w > 0 GROUP BY 1
    )
    SELECT cluster, weight,
           {vw_d} / CAST(weight AS DOUBLE) AS centroid,
           v_min, v_max
    FROM td_a
    """


# ---------------------------------------------------------------------------
# k-mins distinct-count sketch (Cohen, "Size-estimation framework with
# applications to transitive closure and reachability", JCSS 1997; the
# k-independent-minima cousin of KMV/theta sketches).


def kmins_distinct(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 64,
    merged_label: str = "ALL",
) -> DataFrame:
    """Per-group k-mins cardinality estimate, plus a merged
    ``merged_label`` row: (scope, n_rows, kmins_est).

    ``merged_label`` must lie OUTSIDE the group-value domain; a real
    group named like the sentinel would silently fold into the merge
    row, so the plan carries an ``assert_true`` guard (evaluated on the
    |scopes|-row control-plane frame — null-safe, zero corpus cost)
    that fails the job on collision instead.

    theta_i = min over items of h_i(item), with h_i the same portable
    affine family minhash uses ((a_i * md5base + b_i) mod p) — for n
    distinct items each theta_i/p is the minimum of n uniforms, so
    S = sum_i theta_i ~ Gamma(k)-distributed with mean k*p/(n+1) and the
    estimator (k-1) * p / S is the standard unbiased form. Duplicates
    need no pre-distinct: min() absorbs them.

    Scale shape: explode k slots per row, then ONE partial-aggregated
    groupBy (group, slot) min — the map-side combine collapses each
    task's slice to |groups| x k rows before any shuffle, so the
    exchange carries sketch-sized payloads no matter the corpus. The
    'ALL' scope is the k-mins MERGE (elementwise min of the per-group
    sketches) — a |groups| x k control-plane fold that demonstrates the
    sketch's mergeability without rescanning the corpus. S stays BIGINT
    (<= k * p < 2^37) and the estimate is one IEEE division of exact
    integers — bit-identical on any engine with md5.
    """
    from be_analytic_etl_spark.operators.dedup import portable_affine_params
    from be_analytic_etl_spark.operators.textstats import (
        PORTABLE_P,
        portable_base_hash,
    )

    # The k-slot hash array as ONE parsed SQL string (the minhash
    # plan-build discipline): the Column form built k F.struct(F.lit,
    # F.lit) literals element by element — ~0.5 s of py4j chatter per
    # plan build at k=64, measured by cProfile in r14. Same expression
    # tree, same values.
    params_sql = "array(" + ",".join(
        f"named_struct('a', {a}, 'b', {b})"
        for a, b in portable_affine_params(k)
    ) + ")"
    base = portable_base_hash(F.col(item_col).cast("string"))
    slots = df.select(
        F.col(group_col).alias("scope"), base.alias("__h")
    ).selectExpr(
        "scope",
        f"posexplode(transform({params_sql},"
        f" pr -> (__h * pr.a + pr.b) % {PORTABLE_P})) AS (__i, __hi)",
    )
    # ONE corpus pass: each input row contributes to every slot, so the
    # per-(scope, slot) row count IS the scope's row count — fold it
    # into the same partial aggregation instead of rescanning df. The
    # sketch frame is |scopes| x k rows; lazy-checkpoint it so the ALL
    # merge and the per-scope fold both read the materialized sketch,
    # never the corpus again (the mixture_kl discipline).
    per = (
        slots.groupBy("scope", "__i")
        .agg(
            F.min("__hi").cast("long").alias("__theta"),
            F.count(F.lit(1)).cast("long").alias("__cnt"),
        )
        .localCheckpoint(eager=False)
    )
    per_scope = per.groupBy("scope").agg(
        F.sum("__theta").cast("long").alias("__s"),
        F.max("__cnt").cast("long").alias("n_rows"),
    )
    # Sentinel-collision guard: a genuine group valued `merged_label`
    # would alias the merge row. assert_true on the tiny per-scope
    # frame (null-safe; coalesce keeps the filter a tautology Catalyst
    # cannot prune) turns that silent wrong answer into a job failure.
    per_scope = per_scope.filter(
        F.coalesce(
            F.assert_true(
                ~F.col("scope").eqNullSafe(F.lit(merged_label)),
                F.lit(
                    f"kmins_distinct: group value collides with "
                    f"merged_label {merged_label!r}"
                ),
            ).cast("boolean"),
            F.lit(True),
        )
    )
    all_s = (
        per.groupBy("__i")
        .agg(F.min("__theta").alias("__t"))
        .agg(F.sum("__t").cast("long").alias("__s"))
    )
    all_n = per_scope.agg(F.sum("n_rows").cast("long").alias("n_rows"))
    all_row = all_s.crossJoin(F.broadcast(all_n)).select(
        F.lit(merged_label).alias("scope"), "__s", "n_rows"
    )
    est = per_scope.select("scope", "__s", "n_rows").unionByName(all_row)
    km = F.lit(float((k - 1) * PORTABLE_P))
    return est.select(
        "scope",
        "n_rows",
        (km / F.col("__s").cast("double")).alias("kmins_est"),
    )


def kmins_distinct_sql(item_rows: str, k: int = 64) -> str:
    """DuckDB twin of ``kmins_distinct``: ``item_rows`` yields
    (scope, item) with item a VARCHAR."""
    from be_analytic_etl_spark.operators.dedup import portable_affine_params
    from be_analytic_etl_spark.operators.textstats import PORTABLE_P

    params = portable_affine_params(k)
    vals = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(params))
    num = repr(float((k - 1) * PORTABLE_P))
    return f"""
    km_p (i, a, b) AS (VALUES {vals}),
    km_h AS (
        SELECT scope,
               CAST('0x' || substr(md5(item), 1, 15) AS BIGINT)
                   % {PORTABLE_P} AS __h
        FROM ({item_rows})
    ), km_s AS (
        SELECT scope, p.i AS __i,
               CAST(MIN((__h * p.a + p.b) % {PORTABLE_P}) AS BIGINT) AS __theta
        FROM km_h, km_p p GROUP BY 1, 2
    ), km_u AS (
        SELECT scope, __i, __theta FROM km_s
        UNION ALL
        SELECT 'ALL', __i, CAST(MIN(__theta) AS BIGINT) FROM km_s GROUP BY 2
    ), km_n AS (
        SELECT scope, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM ({item_rows}) GROUP BY 1
        UNION ALL
        SELECT 'ALL', CAST(COUNT(*) AS BIGINT) FROM ({item_rows})
    ), km_e AS (
        SELECT scope, CAST(SUM(__theta) AS BIGINT) AS __s
        FROM km_u GROUP BY 1
    )
    SELECT km_e.scope, km_n.n_rows,
           {num} / CAST(km_e.__s AS DOUBLE) AS kmins_est
    FROM km_e JOIN km_n ON km_e.scope = km_n.scope
    """


def tdigest_panel(
    df: DataFrame,
    value_col: str,
    q_millionths: list[int],
    delta: int = 32,
) -> DataFrame:
    """The write+read t-digest readout: one row per digest CLUSTER — the
    full summary ``tdigest_clusters`` emits (cluster, weight, centroid,
    v_min, v_max) — widened with the quantile READ path aggregated onto
    each cluster that owns one of the requested ranks: ``n_q_owned``
    (how many of ``q_millionths`` this cluster answers), ``rank_sum`` /
    ``exact_sum`` (BIGINT checksums of the owned ranks and their exact
    order statistics off the same histogram), and ``err_max`` (the
    digest's worst measured |centroid - exact| over the owned quantiles,
    6dp; NULL when the cluster owns none).

    ONE corpus pass: the CUMULATIVE value histogram is eagerly
    checkpointed once and the cluster build, the rank lookups, and the
    exact order statistics all read it (one ordering window total). The
    rank joins are inequality joins against BROADCAST frames of |qs| and
    delta rows — bounded nested loops, corpus-independent.
    """
    from be_analytic_etl_spark.functions.rounding import stable_round

    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    # ONE cumulative ordering pass, eagerly materialized: the cluster
    # build (a broadcast-side job), the rank frame, and the exact
    # order-statistic read all used to re-run the histogram + global
    # window independently — the r13 stage profile showed two concurrent
    # ~1.2 s single-task jobs doing identical work. Eager (not lazy)
    # because the consumers run as CONCURRENT broadcast-build jobs, which
    # would race to materialize a lazy checkpoint. The global-order
    # window leaves cum in ONE partition; repartition before the
    # checkpoint so the downstream rank-range nested-loop joins (the
    # remaining ~1.4 s single-task job in the profile) fan out across
    # cores — row placement cannot affect any emitted value (all
    # downstream aggregates are exact integer/decimal sums).
    spread = hist.sparkSession.sparkContext.defaultParallelism
    cum = tdigest_cum(hist).repartition(spread).localCheckpoint(eager=True)
    # The cluster frame is broadcast TWICE below (the owned-rank join and
    # the final readout join); without this checkpoint each broadcast
    # build re-ran the whole per-row cluster-assignment chain over the
    # histogram (~1 s each at sf0.1 in the r13 stage profile). <= delta
    # rows — materializing it is free.
    clus = tdigest_clusters_from_cum(cum, delta).localCheckpoint(eager=True)
    w_c = Window.orderBy("cluster").rowsBetween(Window.unboundedPreceding, 0)
    cspan = clus.select(
        "cluster",
        "weight",
        "centroid",
        "v_min",
        "v_max",
        F.sum("weight").over(w_c).cast("long").alias("__chi"),
    ).withColumn("__clo", F.col("__chi") - F.col("weight") + 1)
    tot = cum.agg(F.max("__hi").cast("long").alias("__n"))
    qarr = F.array(*[F.lit(q).cast("long") for q in q_millionths])
    ranks = tot.select(F.explode(qarr).alias("__qm"), "__n").select(
        "__qm",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("(__n * __qm + 500000L) DIV 1000000L"),
        ).alias("rank"),
    )
    exact = cum.join(
        F.broadcast(ranks),
        (F.col("rank") >= F.col("__lo")) & (F.col("rank") <= F.col("__hi")),
    ).select("__qm", "rank", F.col("__v").cast("long").alias("__exact"))
    owned = exact.join(
        F.broadcast(cspan.select("cluster", "centroid", "__clo", "__chi")),
        (F.col("rank") >= F.col("__clo")) & (F.col("rank") <= F.col("__chi")),
    ).select(
        "cluster",
        "rank",
        "__exact",
        stable_round(
            F.abs(F.col("centroid") - F.col("__exact").cast("double")), 6
        ).alias("__err"),
    )
    per_cluster = owned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_q_owned"),
        F.sum("rank").cast("long").alias("rank_sum"),
        F.sum("__exact").cast("long").alias("exact_sum"),
        F.max("__err").alias("err_max"),
    )
    return cspan.select(
        "cluster", "weight", "centroid", "v_min", "v_max"
    ).join(per_cluster, "cluster", "left").select(
        "cluster",
        "weight",
        "centroid",
        "v_min",
        "v_max",
        F.coalesce("n_q_owned", F.lit(0).cast("long")).alias("n_q_owned"),
        F.coalesce("rank_sum", F.lit(0).cast("long")).alias("rank_sum"),
        F.coalesce("exact_sum", F.lit(0).cast("long")).alias("exact_sum"),
        "err_max",
    )


def tdigest_panel_sql(
    value_rows: str, q_millionths: list[int], delta: int = 32
) -> str:
    """DuckDB twin of ``tdigest_panel`` — generated from the same
    parameters (and reusing ``tdigest_clusters_sql``) so operator and
    oracle cannot drift."""
    from be_analytic_etl_spark.functions.rounding import stable_round_sql

    clus = tdigest_clusters_sql(value_rows, delta)
    qvals = ", ".join(f"({q})" for q in q_millionths)
    err = stable_round_sql("ABS(cs.centroid - CAST(h.__v AS DOUBLE))", 6)
    return f"""
    tp_clus AS (WITH {clus}),
    tp_h AS (
        SELECT v AS __v, CAST(COUNT(*) AS BIGINT) AS __c
        FROM ({value_rows}) WHERE v IS NOT NULL GROUP BY 1
    ),
    tp_tot AS (SELECT CAST(SUM(__c) AS BIGINT) AS __n FROM tp_h),
    tp_q (qm) AS (VALUES {qvals}),
    tp_r AS (
        SELECT qm, GREATEST(1, (__n * qm + 500000) // 1000000) AS rank
        FROM tp_q, tp_tot
    ),
    tp_cs AS (
        SELECT cluster, weight, centroid, v_min, v_max,
               CAST(SUM(weight) OVER (ORDER BY cluster) AS BIGINT) AS __chi,
               CAST(SUM(weight) OVER (ORDER BY cluster) - weight + 1
                    AS BIGINT) AS __clo
        FROM tp_clus
    ),
    tp_hc AS (
        SELECT __v,
               CAST(SUM(__c) OVER (ORDER BY __v) AS BIGINT) AS __hhi,
               CAST(SUM(__c) OVER (ORDER BY __v) - __c + 1 AS BIGINT)
                   AS __hlo
        FROM tp_h
    ),
    tp_owned AS (
        SELECT cs.cluster, r.rank,
               CAST(h.__v AS BIGINT) AS __exact,
               {err} AS __err
        FROM tp_r r
        JOIN tp_hc h ON r.rank >= h.__hlo AND r.rank <= h.__hhi
        JOIN tp_cs cs ON r.rank >= cs.__clo AND r.rank <= cs.__chi
    ),
    tp_pc AS (
        SELECT cluster,
               CAST(COUNT(*) AS BIGINT) AS n_q_owned,
               CAST(SUM(rank) AS BIGINT) AS rank_sum,
               CAST(SUM(__exact) AS BIGINT) AS exact_sum,
               MAX(__err) AS err_max
        FROM tp_owned GROUP BY cluster
    )
    SELECT cs.cluster, cs.weight, cs.centroid, cs.v_min, cs.v_max,
           CAST(COALESCE(pc.n_q_owned, 0) AS BIGINT) AS n_q_owned,
           CAST(COALESCE(pc.rank_sum, 0) AS BIGINT) AS rank_sum,
           CAST(COALESCE(pc.exact_sum, 0) AS BIGINT) AS exact_sum,
           pc.err_max
    FROM tp_cs cs LEFT JOIN tp_pc pc ON cs.cluster = pc.cluster
    """
