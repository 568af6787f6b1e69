"""Round-10 batch 3 (corpus growth + experimentation): independent
brute-force cross-checks on sf0.001, plus the growth-accounting
identity dau = new + retained + resurrected."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _q(spark, name):
    from be_analytic_etl_spark.registry import QUERIES

    return QUERIES[name](spark, SF_DIR)


def test_heaps_law_matches_bruteforce(spark):
    from be_analytic_etl_spark.sources import load_table

    docs = sorted(
        (r["doc_id"], (r["text"] or "").strip())
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    )
    mx = max(d for d, _ in docs)
    blocks = defaultdict(list)
    for d, t in docs:
        blocks[min(9, d * 10 // (mx + 1))].append(t)
    seen: set[str] = set()
    cum_toks = 0
    pts = []
    for b in sorted(blocks):
        for t in blocks[b]:
            toks = t.split()
            cum_toks += len(toks)
            seen.update(toks)
        if cum_toks > 0:
            pts.append((cum_toks, len(seen)))
    # replicate the 6dp-quantized log-log OLS
    q = lambda v: math.floor(math.log(v) * 1e6 + 0.5) / 1e6
    xs = [q(n) for n, _ in pts]
    ys = [q(v) for _, v in pts]
    k = len(pts)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    den = k * sxx - sx * sx
    beta = (k * sxy - sx * sy) / den
    out = _q(spark, "ext_heaps_law").collect()[0]
    assert out["n_checkpoints"] == k
    assert out["heaps_beta"] == pytest.approx(beta, abs=1e-5)
    # Heaps exponent is sublinear growth; the synthetic sf0.001 corpus
    # draws from a FIXED vocabulary, so beta = 0 exactly (every type is
    # seen in the first block) — the estimator still reproduces it.
    assert 0.0 <= out["heaps_beta"] <= 1.0


def test_growth_accounting_identity_and_bruteforce(spark):
    from be_analytic_etl_spark.sources import load_table

    rows = (
        load_table(spark, SF_DIR, "events")
        .filter("ts IS NOT NULL AND user_id IS NOT NULL")
        .select("user_id", "ts")
        .collect()
    )
    days = defaultdict(set)
    user_days = defaultdict(set)
    for r in rows:
        d = r["ts"].date()
        days[d].add(r["user_id"])
        user_days[r["user_id"]].add(d)
    out = {r["day"]: r for r in _q(spark, "ext_growth_accounting").collect()}
    from datetime import timedelta

    # full-outer churn attribution (ADVICE r10): a churn-only day (no
    # activity, e.g. the day after the corpus horizon) appears with
    # dau = 0 — churn is never silently dropped
    churn_days = {
        d + timedelta(days=1)
        for u, ds in user_days.items()
        for d in ds
        if (d + timedelta(days=1)) not in ds
    }
    assert set(out) == set(days) | churn_days
    for d, r in out.items():
        users = days.get(d, set())
        assert r["dau"] == len(users)
        # the growth-accounting identity
        assert r["dau"] == r["new_users"] + r["retained"] + r["resurrected"]
        new = sum(1 for u in users if min(user_days[u]) == d)
        retained = sum(
            1
            for u in users
            if any((d - pd).days == 1 for pd in user_days[u] if pd < d)
        )
        assert (r["new_users"], r["retained"]) == (new, retained)
    # churn census: users active on d-1 with no activity on d
    for d, r in out.items():
        prev = d - timedelta(days=1)
        churned = sum(
            1 for u, ds in user_days.items() if prev in ds and d not in ds
        )
        assert r["churned"] == churned


def test_permutation_test_matches_bruteforce(spark):
    from be_analytic_etl_spark.queries.statistics import _q6
    from be_analytic_etl_spark.sources import load_table

    scored = [
        (r["doc_id"], r["lang"], float(r["__q6"]))
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "lang", _q6())
        .collect()
    ]

    def contrast(pairs):
        a = [q for flag, q in pairs if flag]
        b = [q for flag, q in pairs if not flag]
        if not a or not b:
            return None
        raw = abs(sum(a) / len(a) - sum(b) / len(b))
        return math.floor(raw * 1e12 + 0.5) / 1e12

    obs = contrast([(lg == "en", q) for _, lg, q in scored])
    n_ge = 0
    for b in range(64):
        def side(doc_id):
            h = hashlib.md5(f"{doc_id}|{b}|perm".encode()).hexdigest()
            return int(h[:15], 16) % 2 == 1

        stat = contrast([(side(d), q) for d, _, q in scored])
        if stat is not None and obs is not None and stat >= obs:
            n_ge += 1
    out = _q(spark, "ext_permutation_test").collect()[0]
    assert out["n_docs"] == len(scored) and out["n_perms"] == 64
    assert out["n_ge"] == n_ge
    assert out["observed_diff"] == pytest.approx(obs, abs=1e-6)
    assert out["p_value"] == pytest.approx((1 + n_ge) / 65, abs=1e-6)


def test_cuped_matches_bruteforce(spark):
    from be_analytic_etl_spark.sources import load_table

    orders = (
        load_table(spark, SF_DIR, "orders")
        .filter("o_orderdate IS NOT NULL AND o_custkey IS NOT NULL")
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .collect()
    )
    d0 = min(r["o_orderdate"].date() for r in orders)
    d1 = max(r["o_orderdate"].date() for r in orders)
    from datetime import timedelta

    mid = d0 + timedelta(days=(d1 - d0).days // 2)
    per = defaultdict(lambda: [0, 0])
    for r in orders:
        c = round(r["o_totalprice"] * 100)
        k = 0 if r["o_orderdate"].date() <= mid else 1
        per[r["o_custkey"]][k] += c
    xs = [v[0] for v in per.values()]
    ys = [v[1] for v in per.values()]
    n = len(per)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    out = _q(spark, "ext_cuped").collect()[0]
    assert out["n_customers"] == n
    assert out["cuped_theta"] == pytest.approx(cov / varx, abs=1e-5)
    assert out["variance_reduction"] == pytest.approx(
        cov * cov / (varx * vary), abs=1e-9
    )
    # rho^2 is a proper squared correlation
    assert 0.0 <= out["variance_reduction"] <= 1.0
