"""Round-10 queries: independent brute-force cross-checks and
structural invariants. The DuckDB oracles mirror the same
histogram/grid algebra, so these tests recompute each statistic the
NAIVE way (quadratic pair loops, full sorts, per-observation ranks) on
sf0.001 and compare — a genuinely independent implementation check —
plus the textbook identities (H^2 = 1 - BC, W1 symmetry bounds,
Friedman rank-sum conservation)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _q(spark, name):
    from be_analytic_etl_spark.registry import QUERIES

    return QUERIES[name](spark, SF_DIR)


def _median(vals):
    # the repo's two-middle-rank convention: (v@((n+1)//2) + v@(n//2+1))/2
    s = sorted(vals)
    n = len(s)
    return (s[(n + 1) // 2 - 1] + s[n // 2]) / 2


@pytest.fixture(scope="module")
def scored_docs(spark):
    """(source, lang, n_chars, q6) per document — q6 exactly as the
    queries compute it (stable-rounded DECIMAL(18,6))."""
    from be_analytic_etl_spark.queries.statistics import _q6
    from be_analytic_etl_spark.sources import load_table

    rows = (
        load_table(spark, SF_DIR, "documents")
        .select("source", "lang", "n_chars", _q6())
        .collect()
    )
    return [(r["source"], r["lang"], r["n_chars"], float(r["__q6"])) for r in rows]


@pytest.fixture(scope="module")
def daily(spark):
    from be_analytic_etl_spark.queries._shared import _daily_cents

    return [(r["day"], r["c"]) for r in _daily_cents(spark, SF_DIR).collect()]


def _midranks(vals):
    """value -> average rank over the full sample (1-based midranks)."""
    cnt = Counter(vals)
    ranks, below = {}, 0
    for v in sorted(cnt):
        ranks[v] = below + (cnt[v] + 1) / 2
        below += cnt[v]
    return ranks


def test_kruskal_wallis_matches_bruteforce(spark, scored_docs):
    out = _q(spark, "ext_kruskal_wallis").collect()[0]
    groups = defaultdict(list)
    for src, _, _, q in scored_docs:
        groups[src].append(q)
    n = len(scored_docs)
    ranks = _midranks([q for _, _, _, q in scored_docs])
    h = (
        12.0
        / (n * (n + 1))
        * sum(
            len(g) * (sum(ranks[v] for v in g) / len(g) - (n + 1) / 2) ** 2
            for g in groups.values()
        )
    )
    cnt = Counter(q for _, _, _, q in scored_docs)
    corr = 1.0 - sum(t**3 - t for t in cnt.values()) / (n**3 - n)
    assert out["n"] == n and out["k"] == len(groups)
    assert out["h_stat"] == pytest.approx(h, rel=1e-6, abs=1e-4)
    assert out["h_tie_corrected"] == pytest.approx(h / corr, rel=1e-6, abs=1e-4)


def test_mood_median_matches_bruteforce(spark, scored_docs):
    out = _q(spark, "ext_mood_median").collect()[0]
    lengths = [
        (src, nc) for src, _, nc, _ in scored_docs if nc is not None
    ]
    med = _median([v for _, v in lengths])
    groups = defaultdict(list)
    for src, v in lengths:
        groups[src].append(v)
    n = len(lengths)
    a_tot = sum(1 for _, v in lengths if v > med)
    assert out["n"] == n and out["n_above"] == a_tot
    if a_tot == 0 or a_tot == n:
        # degenerate split (>= half the corpus at the extreme value):
        # the query emits NULL — mirror that here
        assert out["mood_chi2"] is None
        return
    chi2 = 0.0
    for g in groups.values():
        a = sum(1 for v in g if v > med)
        e1 = len(g) * a_tot / n
        e2 = len(g) * (n - a_tot) / n
        chi2 += (a - e1) ** 2 / e1 + (len(g) - a - e2) ** 2 / e2
    assert out["mood_chi2"] == pytest.approx(chi2, rel=1e-6, abs=1e-4)


def test_cramers_v_matches_bruteforce(spark, scored_docs):
    out = _q(spark, "ext_cramers_v").collect()[0]
    cells = Counter(
        (src, min(int(q * 10), 9)) for src, _, _, q in scored_docs
    )
    rm = Counter()
    cm = Counter()
    for (src, b), c in cells.items():
        rm[src] += c
        cm[b] += c
    n = sum(cells.values())
    # textbook chi2 runs over ALL r x k cells: a zero-observed cell
    # contributes (0-E)^2/E = E (the mass the round-11 property test
    # found missing — this brute force used to skip it too)
    chi2 = sum(
        (cells.get((src, b), 0) - rm[src] * cm[b] / n) ** 2
        / (rm[src] * cm[b] / n)
        for src in rm
        for b in cm
    )
    r, k = len(rm), len(cm)
    v = math.sqrt(chi2 / n / min(r - 1, k - 1))
    assert out["n"] == n and out["n_rows"] == r and out["n_cols"] == k
    assert out["chi2"] == pytest.approx(chi2, rel=1e-6, abs=1e-4)
    assert out["cramers_v"] == pytest.approx(v, rel=1e-6, abs=1e-5)
    assert 0.0 <= out["cramers_v"] <= 1.0
    # bias-corrected V never exceeds the raw V
    assert out["cramers_v_corrected"] <= out["cramers_v"] + 1e-12


def test_hellinger_matches_bruteforce_and_identity(spark, scored_docs):
    rows = {r["lang"]: r for r in _q(spark, "ext_hellinger").collect()}
    bins = defaultdict(Counter)
    for _, lang, _, q in scored_docs:
        bins[lang][min(int(q * 10), 9)] += 1
    n = len(scored_docs)
    gbin = Counter()
    for lang in bins:
        gbin.update(bins[lang])
    for lang, r in rows.items():
        nl = sum(bins[lang].values())
        nr = n - nl
        bc = sum(
            math.sqrt((c / nl) * ((gbin[b] - c) / nr))
            for b, c in bins[lang].items()
        )
        assert r["n_lang"] == nl
        assert r["bhattacharyya"] == pytest.approx(bc, rel=1e-6, abs=1e-6)
        # H = sqrt(1 - BC), both in [0, 1]
        assert 0.0 <= r["bhattacharyya"] <= 1.0 + 1e-12
        assert r["hellinger"] == pytest.approx(
            math.sqrt(max(0.0, 1.0 - bc)), rel=1e-6, abs=1e-6
        )


def test_cvm_matches_bruteforce(spark, scored_docs):
    out = _q(spark, "ext_cvm").collect()[0]
    xs = sorted(q for _, lang, _, q in scored_docs if lang == "en")
    ys = sorted(q for _, lang, _, q in scored_docs if lang != "en")
    n1, n2 = len(xs), len(ys)
    nall = n1 + n2
    t = 0.0
    for v, g in Counter(xs + ys).items():
        f1 = sum(1 for x in xs if x <= v) / n1
        f2 = sum(1 for y in ys if y <= v) / n2
        t += g * (f1 - f2) ** 2
    t *= n1 * n2 / nall**2
    assert out["n_en"] == n1 and out["n_rest"] == n2
    assert out["cvm_t"] == pytest.approx(t, rel=1e-6, abs=1e-6)


def test_jonckheere_matches_bruteforce(spark, scored_docs):
    out = _q(spark, "ext_jonckheere").collect()[0]
    pairs = [
        (min(nc // 500, 5), q) for _, _, nc, q in scored_docs if nc is not None
    ]
    # 2J = sum over observation pairs in bucket order i<j of
    # 2*[x_i < x_j] + 1*[x_i == x_j] (ties counted half)
    j2 = 0
    for bi, qi in pairs:
        for bj, qj in pairs:
            if bi < bj:
                j2 += 2 * (qi < qj) + (qi == qj)
    nb = Counter(b for b, _ in pairs)
    n = len(pairs)
    assert out["n"] == n and out["k"] == len(nb)
    assert out["j2"] == j2
    e4 = n * n - sum(t * t for t in nb.values())
    var72 = n * n * (2 * n + 3) - sum(t * t * (2 * t + 3) for t in nb.values())
    z = (2 * j2 - e4) / (4 * math.sqrt(var72 / 72))
    assert out["z_stat"] == pytest.approx(z, rel=1e-6, abs=1e-6)


def test_wasserstein_matches_bruteforce(spark, scored_docs):
    rows = {r["lang"]: r for r in _q(spark, "ext_wasserstein").collect()}
    langs = sorted({lang for _, lang, _, _ in scored_docs})
    all_q = [q for _, _, _, q in scored_docs]
    values = sorted(set(all_q))
    for lang in langs:
        xs = [q for _, l_, _, q in scored_docs if l_ == lang]
        ys = [q for _, l_, _, q in scored_docs if l_ != lang]
        w1 = 0.0
        for v, nxt in zip(values, values[1:]):
            f1 = sum(1 for x in xs if x <= v) / len(xs)
            f2 = sum(1 for y in ys if y <= v) / len(ys)
            w1 += abs(f1 - f2) * (nxt - v)
        r = rows[lang]
        assert r["n_lang"] == len(xs)
        assert r["wasserstein_1"] == pytest.approx(w1, rel=1e-9, abs=1e-12)
        assert r["wasserstein_1"] >= 0.0


def test_hodges_lehmann_matches_bruteforce(spark, daily):
    out = _q(spark, "ext_hodges_lehmann").collect()[0]
    wk = [c for d, c in daily if d.weekday() >= 5]
    wd = [c for d, c in daily if d.weekday() < 5]
    diffs = [x - y for x in wk for y in wd]
    assert out["n_weekend"] == len(wk) and out["n_weekday"] == len(wd)
    assert out["n_pairs"] == len(diffs)
    assert out["hl_shift_cents"] == pytest.approx(_median(diffs))


def test_siegel_slopes_matches_bruteforce(spark, daily):
    out = _q(spark, "ext_siegel_slopes").collect()[0]
    per_day = []
    for di, ci in daily:
        slopes = [
            (cj - ci) / (dj - di).days for dj, cj in daily if dj != di
        ]
        per_day.append(_median(slopes))
    assert out["n_days"] == len(daily)
    assert out["siegel_slope"] == pytest.approx(_median(per_day))


def test_friedman_matches_bruteforce(spark):
    from be_analytic_etl_spark.sources import load_table

    out = _q(spark, "ext_friedman").collect()[0]
    ev = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(
            F.to_date("ts").alias("day"), F.col("event_type").alias("et")
        )
        .agg(
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
            .cast("long")
            .alias("c")
        )
        .collect()
    )
    cells = {(r["day"], r["et"]): r["c"] for r in ev}
    types = sorted({et for _, et in cells})
    k = len(types)
    days = sorted(
        d
        for d, cnt in Counter(d for d, _ in cells).items()
        if cnt == k
    )
    b = len(days)
    rsum = Counter()
    tie3 = 0
    for d in days:
        vals = {et: cells[(d, et)] for et in types}
        ranks = _midranks(list(vals.values()))
        for et, v in vals.items():
            rsum[et] += ranks[v]
        tcnt = Counter(vals.values())
        tie3 += sum(t**3 - t for t in tcnt.values())
    chi2 = 12.0 / (b * k * (k + 1)) * sum(r * r for r in rsum.values()) - (
        3.0 * b * (k + 1)
    )
    corr = 1.0 - tie3 / (b * k * (k * k - 1))
    assert out["n_blocks"] == b and out["k"] == k
    assert out["friedman_chi2"] == pytest.approx(chi2, rel=1e-9, abs=1e-6)
    assert out["friedman_chi2_tie_corrected"] == pytest.approx(
        chi2 / corr, rel=1e-9, abs=1e-6
    )
    # rank-sum conservation: sum of all rank sums = b * k(k+1)/2
    assert sum(rsum.values()) == pytest.approx(b * k * (k + 1) / 2)
