"""Round-7 operator properties: each new estimator is checked against
an independent brute-force computation on small random frames, plus the
distributed-correctness property that matters for its plan shape
(partition invariance for the sketch, histogram-vs-sort equality for
the rank stats)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Heavy hitters: the two-phase MG + exact recount must equal the plain
# exact GROUP BY ... HAVING answer no matter how the input is
# partitioned (the MG phase may only ever pre-filter non-hitters).
@given(
    seed=st.integers(0, 10_000),
    n_parts=st.sampled_from([1, 3, 13]),
    k=st.sampled_from([4, 8]),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_heavy_hitters_match_exact_groupby(spark, seed, n_parts, k):
    from be_analytic_etl_spark.operators.sketches import heavy_hitters_exact

    import random

    rng = random.Random(seed)
    # zipf-ish: a few hot items + a long tail
    items = (
        ["hot_a"] * rng.randint(20, 60)
        + ["hot_b"] * rng.randint(10, 40)
        + [f"tail_{rng.randint(0, 200)}" for _ in range(rng.randint(50, 150))]
    )
    rng.shuffle(items)
    df = spark.createDataFrame([(i,) for i in items], "item string").repartition(
        n_parts
    )
    got = {
        r["item"]: (r["cnt"], r["n"])
        for r in heavy_hitters_exact(df, "item", k).collect()
    }
    n = len(items)
    want = {}
    for it in set(items):
        c = items.count(it)
        if c * k > n:
            want[it] = (c, n)
    assert got == want


# ---------------------------------------------------------------------------
# Calibration: ECE/MCE against a direct per-bin computation.
@given(seed=st.integers(0, 10_000))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ece_matches_bruteforce(spark, seed):
    from decimal import Decimal

    from be_analytic_etl_spark.operators.evalstats import (
        expected_calibration_error,
    )

    import random

    rng = random.Random(seed)
    rows = [
        (Decimal(rng.randint(0, 1_000_000)) / Decimal(1_000_000), rng.randint(0, 1))
        for _ in range(rng.randint(20, 200))
    ]
    df = spark.createDataFrame(rows, "score decimal(18,6), pos int")
    got = expected_calibration_error(df, "score", "pos", 10).collect()[0]

    bins: dict[int, list[tuple[float, int]]] = {}
    for s, p in rows:
        b = min(int(s * 10), 9)
        bins.setdefault(b, []).append((float(s), p))
    n = len(rows)
    gaps = {}
    for b, xs in bins.items():
        mean_conf = sum(s for s, _ in xs) / len(xs)
        frac_pos = sum(p for _, p in xs) / len(xs)
        gaps[b] = (len(xs), abs(frac_pos - mean_conf))
    ece = sum(nb * round(g, 6) for nb, g in gaps.values()) / n
    mce = max(round(g, 6) for _, g in gaps.values())
    assert got["n"] == n and got["n_bins_used"] == len(bins)
    assert got["ece"] == pytest.approx(ece, abs=2e-6)
    assert got["mce"] == pytest.approx(mce, abs=2e-6)


# ---------------------------------------------------------------------------
# Cohen's kappa against the textbook formula.
@given(seed=st.integers(0, 10_000))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cohens_kappa_matches_formula(spark, seed):
    from be_analytic_etl_spark.operators.evalstats import cohens_kappa

    import random

    rng = random.Random(seed)
    labels = ["x", "y", "z"]
    rows = [
        (rng.choice(labels), rng.choice(labels))
        for _ in range(rng.randint(10, 200))
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    got = cohens_kappa(df, "a", "b").collect()[0]

    n = len(rows)
    po = sum(1 for a, b in rows if a == b) / n
    pe = sum(
        (sum(1 for a, _ in rows if a == l) * sum(1 for _, b in rows if b == l))
        for l in labels
    ) / (n * n)
    assert got["n"] == n
    assert got["po"] == pytest.approx(po, abs=1e-12)
    assert got["pe"] == pytest.approx(pe, abs=1e-12)
    if pe < 1.0:
        assert got["kappa"] == pytest.approx((po - pe) / (1 - pe), abs=1e-9)
    else:
        assert got["kappa"] is None


def test_cohens_kappa_degenerate_constant_raters(spark):
    from be_analytic_etl_spark.operators.evalstats import cohens_kappa

    df = spark.createDataFrame([("x", "x")] * 5, "a string, b string")
    row = cohens_kappa(df, "a", "b").collect()[0]
    assert row["pe"] == 1.0 and row["kappa"] is None


# ---------------------------------------------------------------------------
# Robust means: histogram arithmetic equals the sorted-list definition.
@given(seed=st.integers(0, 10_000))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_robust_means_match_sorted_definition(spark, seed):
    from be_analytic_etl_spark.operators.robust import robust_means

    import random

    rng = random.Random(seed)
    vals = [rng.randint(-50, 1000) for _ in range(rng.randint(12, 300))]
    df = spark.createDataFrame([("g", v) for v in vals], "grp string, v long")
    got = robust_means(df, "grp", "v", trim=0.1).collect()[0]

    s = sorted(vals)
    n = len(s)
    g = math.floor(n * 0.1)
    interior = s[g : n - g]
    trimmed = sum(interior) / len(interior)
    winsor = (sum(interior) + g * s[g] + g * s[n - g - 1]) / n
    assert got["n"] == n and got["n_trimmed"] == len(interior)
    assert got["lo_value"] == s[g] and got["hi_value"] == s[n - g - 1]
    assert got["trimmed_mean"] == pytest.approx(trimmed, abs=1e-9)
    assert got["winsorized_mean"] == pytest.approx(winsor, abs=1e-9)


# ---------------------------------------------------------------------------
# Exact-substring coverage: union arithmetic equals brute force.
@given(seed=st.integers(0, 10_000))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_substring_coverage_matches_bruteforce(spark, seed):
    from be_analytic_etl_spark.operators.dedup import exact_substring_coverage

    import random

    rng = random.Random(seed)
    w = 4
    vocab = [f"t{j}" for j in range(8)]
    docs = []
    for i in range(rng.randint(3, 8)):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30)))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_windows"], r["covered_tokens"])
        for r in exact_substring_coverage(df, "text", "doc_id", window=w).collect()
    }

    toks = {i: t.split() for i, t in docs}
    spans: dict[tuple, int] = {}
    for i, ts in toks.items():
        for s in range(len(ts) - w + 1):
            spans[tuple(ts[s : s + w])] = spans.get(tuple(ts[s : s + w]), 0) + 1
    want = {}
    for i, ts in toks.items():
        if len(ts) < w:
            continue
        dup_starts = [
            s
            for s in range(len(ts) - w + 1)
            if spans[tuple(ts[s : s + w])] >= 2
        ]
        covered = set()
        for s in dup_starts:
            covered.update(range(s, s + w))
        want[i] = (len(ts), len(dup_starts), len(covered))
    assert got == want


# ---------------------------------------------------------------------------
# KS statistic against the brute-force two-sample definition.
@given(seed=st.integers(0, 10_000))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ks_matches_bruteforce(spark, seed):
    """Replicates the bounded-histogram CDF sweep in ext_ks_test on a
    two-group frame and checks D against the sorted-sample definition."""
    from decimal import Decimal

    import random

    from pyspark.sql import Window

    rng = random.Random(seed)
    xs = [Decimal(rng.randint(0, 40)) / Decimal(10) for _ in range(rng.randint(5, 60))]
    ys = [Decimal(rng.randint(0, 40)) / Decimal(10) for _ in range(rng.randint(5, 60))]
    rows = [("a", v) for v in xs] + [("b", v) for v in ys]
    df = spark.createDataFrame(rows, "src string, score decimal(18,6)")
    hist = df.groupBy("score").agg(
        F.sum(F.when(F.col("src") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("src") == "b", 1).otherwise(0)).alias("cb"),
    )
    cum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    d = (
        hist.select(
            (
                F.abs(
                    F.sum("ca").over(cum).cast("double")
                    / F.sum("ca").over(tot).cast("double")
                    - F.sum("cb").over(cum).cast("double")
                    / F.sum("cb").over(tot).cast("double")
                )
            ).alias("d")
        )
        .agg(F.max("d"))
        .collect()[0][0]
    )
    pts = sorted(set(xs) | set(ys))
    want = max(
        abs(
            sum(1 for v in xs if v <= p) / len(xs)
            - sum(1 for v in ys if v <= p) / len(ys)
        )
        for p in pts
    )
    assert d == pytest.approx(want, abs=1e-12)


# ---------------------------------------------------------------------------
# Spearman: doubled-average-rank histogram form equals naive scipy-style
# average ranks.
@given(seed=st.integers(0, 10_000))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_spearman_rank2_matches_average_ranks(spark, seed):
    import random

    rng = random.Random(seed)
    n = rng.randint(5, 80)
    rows = [(rng.randint(0, 10), rng.randint(0, 15)) for _ in range(n)]

    def avg_ranks(vals):
        s = sorted(vals)
        return {
            v: (s.index(v) + 1 + s.index(v) + s.count(v)) / 2 for v in set(vals)
        }

    xs = [x for x, _ in rows]
    ys = [y for _, y in rows]
    rxm, rym = avg_ranks(xs), avg_ranks(ys)
    rx = [rxm[x] for x in xs]
    ry = [rym[y] for y in ys]
    mx = sum(rx) / n
    my = sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(
        sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
    )
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, "x long, y long")

    def rank2(frame, col):
        h = frame.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return h.select(
            col,
            (
                F.lit(2) * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + F.lit(1)
            ).alias(f"r_{col}"),
        )

    ranked = df.join(rank2(df, "x"), "x").join(rank2(df, "y"), "y")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r_x").alias("sx"),
        F.sum("r_y").alias("sy"),
        F.sum(F.col("r_x") * F.col("r_x")).alias("sxx"),
        F.sum(F.col("r_y") * F.col("r_y")).alias("syy"),
        F.sum(F.col("r_x") * F.col("r_y")).alias("sxy"),
    ).collect()[0]
    if den == 0:
        return
    rho_naive = num / den
    nn = agg["n"]
    num2 = nn * agg["sxy"] - agg["sx"] * agg["sy"]
    den2 = math.sqrt(
        (nn * agg["sxx"] - agg["sx"] ** 2) * (nn * agg["syy"] - agg["sy"] ** 2)
    )
    assert num2 / den2 == pytest.approx(rho_naive, abs=1e-9)


# ---------------------------------------------------------------------------
# Hill / GPD: the histogram-rank algebra must equal the plain
# sorted-sample definitions on the real table (the DuckDB oracle is an
# independent ENGINE; this is an independent ALGORITHM).
def test_hill_tail_matches_sorted_definition(spark):
    import duckdb

    from be_analytic_etl_spark.registry import QUERIES  # noqa: F401 (registers modules)
    from be_analytic_etl_spark.queries_round7 import _HILL_K

    sf = "/root/testdata/sf0.001"
    got = QUERIES["ext_hill_tail"](spark, sf).collect()[0]
    vals = sorted(
        (
            int(v)
            for (v,) in duckdb.sql(
                f"SELECT CAST(FLOOR(o_totalprice) AS BIGINT) FROM '{sf}/orders.parquet'"
                " WHERE FLOOR(o_totalprice) >= 1"
            ).fetchall()
        ),
        reverse=True,
    )
    k = _HILL_K
    thr = vals[k]  # (k+1)-th largest
    terms = [round(math.log(x / thr), 6) for x in vals[:k]]
    inv = sum(terms) / k
    assert got["n"] == len(vals) and got["threshold"] == thr
    assert got["hill_alpha_inv"] == pytest.approx(inv, abs=1e-9)
    assert got["hill_alpha"] == pytest.approx(k / sum(terms), rel=1e-9)


def test_gpd_tail_matches_sorted_definition(spark):
    import duckdb

    from be_analytic_etl_spark.registry import QUERIES  # noqa: F401 (registers modules)
    from be_analytic_etl_spark.queries_round7 import _POT_K

    sf = "/root/testdata/sf0.001"
    got = QUERIES["ext_gpd_tail"](spark, sf).collect()[0]
    vals = sorted(
        (
            int(v)
            for (v,) in duckdb.sql(
                f"SELECT CAST(FLOOR(o_totalprice) AS BIGINT) FROM '{sf}/orders.parquet'"
                " WHERE FLOOR(o_totalprice) >= 0"
            ).fetchall()
        ),
        reverse=True,
    )
    thr = vals[_POT_K]
    exc = [x - thr for x in vals if x > thr]
    ne = len(exc)
    m = sum(exc) / ne
    s2 = (sum(e * e for e in exc) - ne * m * m) / (ne - 1)
    r = m * m / s2
    assert got["n"] == len(vals) and got["threshold"] == thr
    assert got["n_exceed"] == ne
    assert got["mean_excess"] == pytest.approx(round(m, 6), abs=2e-6)
    assert got["gpd_xi"] == pytest.approx((1 - r) / 2, abs=2e-6)
    assert got["gpd_beta"] == pytest.approx(m * (r + 1) / 2, abs=1e-4)
