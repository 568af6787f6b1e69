"""Round-9 queries: independent brute-force cross-checks and structural
invariants. The DuckDB oracles mirror the same histogram algebra, so
these tests recompute the statistics the NAIVE way (quadratic pair
loops, full sorts) on sf0.001 and compare — a genuinely independent
implementation check, plus the textbook identities (Murphy
decomposition, Lorenz monotonicity, decomposition additivity)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _q(spark, name):
    from be_analytic_etl_spark.registry import QUERIES

    return QUERIES[name](spark, SF_DIR)


@pytest.fixture(scope="module")
def doc_rows(spark):
    from be_analytic_etl_spark.sources import load_table

    return (
        load_table(spark, SF_DIR, "documents")
        .select("source", "n_chars")
        .collect()
    )


def test_cliffs_delta_matches_bruteforce(spark, doc_rows):
    out = {r["source"]: r for r in _q(spark, "ext_cliffs_delta").collect()}
    vals = [(r["source"], r["n_chars"]) for r in doc_rows]
    sources = sorted({s for s, _ in vals})
    # brute force the smallest two sources (quadratic)
    by_n = sorted(sources, key=lambda s: out[s]["n_docs"])[:2]
    for s in by_n:
        xs = [v for src, v in vals if src == s]
        ys = [v for src, v in vals if src != s]
        wins = sum(1 for x in xs for y in ys if x > y)
        losses = sum(1 for x in xs for y in ys if x < y)
        ties = sum(1 for x in xs for y in ys if x == y)
        assert out[s]["wins"] == wins and out[s]["ties"] == ties
        assert out[s]["cliffs_delta"] == pytest.approx(
            (wins - losses) / (len(xs) * len(ys))
        )
        assert -1.0 <= out[s]["cliffs_delta"] <= 1.0


def test_mann_whitney_bounds_and_u_identity(spark):
    rows = _q(spark, "ext_mann_whitney").collect()
    n_total = sum(r["n_docs"] for r in rows)
    for r in rows:
        n1, n2 = r["n_docs"], n_total - r["n_docs"]
        # 2U in [0, 2*n1*n2]; rank-biserial in [-1, 1]
        assert 0 <= r["u2"] <= 2 * n1 * n2
        assert -1.0 <= r["rank_biserial"] <= 1.0
        # rank_biserial == (u2 - n1*n2) / (n1*n2)
        assert r["rank_biserial"] == pytest.approx((r["u2"] - n1 * n2) / (n1 * n2))


def test_seasonal_decompose_additivity(spark):
    rows = _q(spark, "ext_seasonal_decompose").collect()
    assert len(rows) >= 7
    for r in rows:
        # value = trend + seasonal + remainder, exactly as emitted
        assert r["cents"] == pytest.approx(
            r["trend_cents"] + r["seasonal_cents"] + r["remainder_cents"],
            abs=1e-6,
        )
    # seasonal components sum to ~0 weighted by day counts
    from collections import Counter

    n_by_dow = Counter(r["dow"] for r in rows)
    weighted = sum(
        r["seasonal_cents"] / n_by_dow[r["dow"]] * 0 + r["seasonal_cents"]
        for r in rows
    )
    total = sum(r["cents"] for r in rows)
    mean = total / len(rows)
    # sum over days of (dow_mean - overall_mean) == 0 by construction
    assert weighted == pytest.approx(0.0, abs=1e-4 * max(1.0, abs(mean)))


def test_theil_sen_matches_bruteforce(spark):
    out = _q(spark, "ext_theil_sen").collect()[0]
    from be_analytic_etl_spark.queries_round8 import _daily_cents

    daily = sorted(
        (r["day"], r["c"]) for r in _daily_cents(spark, SF_DIR).collect()
    )
    slopes = sorted(
        (cb - ca) / (db - da).days
        for i, (da, ca) in enumerate(daily)
        for (db, cb) in daily[i + 1 :]
    )
    np = len(slopes)
    lo, hi = slopes[(np + 1) // 2 - 1], slopes[np // 2]
    assert out["n_pairs"] == np
    assert out["theil_sen_slope"] == pytest.approx((lo + hi) / 2)


def test_kendall_tau_bounds_and_degenerate(spark):
    out = _q(spark, "ext_kendall_tau").collect()[0]
    assert -1.0 <= out["tau_b"] <= 1.0
    assert out["concordant"] >= 0 and out["discordant"] >= 0
    # sanity: C + D <= n0 (total pairs)
    n0 = out["n_docs"] * (out["n_docs"] - 1) // 2
    assert out["concordant"] + out["discordant"] <= n0


def test_gini_and_lorenz_are_consistent(spark):
    g = _q(spark, "ext_gini_tokens").collect()[0]
    lor = sorted(
        _q(spark, "ext_token_lorenz").collect(), key=lambda r: r["decile"]
    )
    assert 0.0 <= g["gini"] < 1.0
    shares = [r["cum_token_share"] for r in lor]
    # Lorenz curve: nondecreasing, below the diagonal, ends at 1
    assert all(a <= b + 1e-12 for a, b in zip(shares, shares[1:]))
    for r in lor:
        assert r["cum_token_share"] <= r["decile"] / 10 + 1e-12
    assert shares[-1] == pytest.approx(1.0)
    # brute-force gini over the actual token counts
    from be_analytic_etl_spark.operators import textstats as T
    from be_analytic_etl_spark.sources import load_table

    toks = sorted(
        r["nt"]
        for r in load_table(spark, SF_DIR, "documents")
        .select(F.size(T.tokenize("text")).alias("nt"))
        .collect()
    )
    n, tot = len(toks), sum(toks)
    gini_bf = 2 * sum((i + 1) * x for i, x in enumerate(toks)) / (n * tot) - (
        n + 1
    ) / n
    assert g["gini"] == pytest.approx(gini_bf)


def test_levene_nonnegative_and_dofs(spark):
    out = _q(spark, "ext_levene").collect()[0]
    assert out["dof1"] == out["k"] - 1
    assert out["dof2"] == out["n"] - out["k"]
    assert out["bf_stat"] is None or out["bf_stat"] >= 0


def test_mcnemar_matches_bruteforce(spark):
    out = _q(spark, "ext_mcnemar").collect()[0]
    b, c = out["n_01"], out["n_10"]
    if b + c > 0:
        assert out["mcnemar_chi2"] == pytest.approx((b - c) ** 2 / (b + c))
    else:
        assert out["mcnemar_chi2"] is None


def test_brier_decomposition_matches_bruteforce(spark):
    out = _q(spark, "ext_brier_decomp").collect()[0]
    # Recompute every component the naive way from the (score, pos)
    # rows. NOTE: the textbook 3-term identity brier == rel - res + unc
    # holds only for DISCRETE forecasts; with continuous scores binned
    # there is a nonnegative within-bin variance residual (Stephenson
    # et al. 2008), so we check components, not the identity.
    from be_analytic_etl_spark.queries_round7 import _scored
    from be_analytic_etl_spark.queries_round9 import _BRIER_BINS

    rows = [(float(r["score"]), r["pos"]) for r in _scored(spark, SF_DIR).collect()]
    n = len(rows)
    brier_bf = sum((p - y) ** 2 for p, y in rows) / n
    ybar = sum(y for _, y in rows) / n
    bins: dict[int, list[tuple[float, int]]] = {}
    for p, y in rows:
        bins.setdefault(min(int(p * _BRIER_BINS), _BRIER_BINS - 1), []).append((p, y))
    rel_bf = sum(
        len(b) * (sum(p for p, _ in b) / len(b) - sum(y for _, y in b) / len(b)) ** 2
        for b in bins.values()
    ) / n
    res_bf = sum(
        len(b) * (sum(y for _, y in b) / len(b) - ybar) ** 2 for b in bins.values()
    ) / n
    assert out["n_docs"] == n
    assert out["brier"] == pytest.approx(brier_bf)
    # per-bin terms quantize at 6dp -> K*1e-6/n slack
    assert out["reliability"] == pytest.approx(rel_bf, abs=1e-5)
    assert out["resolution"] == pytest.approx(res_bf, abs=1e-5)
    assert out["uncertainty"] == pytest.approx(ybar * (1 - ybar))
    assert 0.0 <= out["brier"] <= 1.0
    assert out["reliability"] >= 0 and out["resolution"] >= 0
    # the binned identity holds up to the small within-bin residual
    resid = out["brier"] - (
        out["reliability"] - out["resolution"] + out["uncertainty"]
    )
    assert abs(resid) < 0.05


def test_runs_test_matches_bruteforce(spark):
    out = _q(spark, "ext_runs_test").collect()[0]
    from be_analytic_etl_spark.queries_round8 import _daily_cents

    daily = sorted(
        (r["day"], r["c"]) for r in _daily_cents(spark, SF_DIR).collect()
    )
    cs = sorted(c for _, c in daily)
    n = len(cs)
    med2 = cs[(n + 1) // 2 - 1] + cs[n // 2]
    signs = [1 if 2 * c > med2 else 0 for _, c in daily if 2 * c != med2]
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n1, n2 = sum(signs), len(signs) - sum(signs)
    assert out["n_used"] == len(signs)
    assert out["n_above"] == n1 and out["n_below"] == n2
    assert out["runs"] == runs
    nu = len(signs)
    e_r = 2 * n1 * n2 / nu + 1
    var = 2 * n1 * n2 * (2 * n1 * n2 - nu) / (nu * nu * (nu - 1))
    assert out["z_stat"] == pytest.approx((runs - e_r) / math.sqrt(var), abs=1e-6)
