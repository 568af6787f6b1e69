"""Property-based end-to-end checks for the round-10 k-sample panel:
run the REGISTERED queries on randomized synthetic parquet corpora and
compare against naive brute-force recomputation (full midrank sorts,
O(n^2)/O(n_a*n_b) pair loops, step-function CDF integrals). Same
harness as tests/test_round9_property.py — this pins the
bounded-histogram rank algebra on edge shapes the fixed testdata can't
produce (single group, all-tied values, even/odd sizes)."""

from __future__ import annotations

import math
import random
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from tests.test_round9_property import (
    _collected_scores,
    _write_documents_langs,
)


def _run(spark, name, sf_dir):
    from be_analytic_etl_spark.registry import QUERIES

    return QUERIES[name](spark, sf_dir).collect()


def _rand_corpus(rng, groups):
    """(group, 'web', n_chars) rows with n_chars <= 120: the synthetic
    'word '*k text saturates quality_score at 0.5 once k >= 20 tokens
    (n_chars >= 100), so SMALL n keeps the score distribution varied —
    with ~100 the saturation value still appears as a heavy tie."""
    rows = []
    for g in groups:
        size = rng.randint(1, 30)
        if rng.random() < 0.3:
            rows += [(g, "web", 100)] * size  # one score value: max ties
        else:
            rows += [(g, "web", rng.randint(0, 120)) for _ in range(size)]
    return rows


def _midranks(vals):
    cnt = Counter(vals)
    ranks, below = {}, 0
    for v in sorted(cnt):
        ranks[v] = below + (cnt[v] + 1) / 2
        below += cnt[v]
    return ranks


@pytest.mark.parametrize("seed", [20, 21, 22])
def test_kruskal_wallis_on_random_corpus(spark, tmp_path, seed):
    """Registered KW (source-grouped histogram rank algebra) vs the
    textbook H = 12/(n(n+1)) * sum n_s (meanrank_s - (n+1)/2)^2 with
    midranks from a full sort, plus the tie correction."""
    rng = random.Random(seed)
    # group lives in `source` here: vary lang-free corpora via sources
    groups = ["web", "books", "ALL", "s4"][: rng.choice([1, 2, 4])]
    rows = [(lg, src, n) for src in groups for lg, _, n in _rand_corpus(rng, ["en"])]
    sf_dir = str(tmp_path / f"sf_kw{seed}")
    _write_documents_langs(spark, sf_dir, rows)

    from be_analytic_etl_spark.queries.statistics import _q6
    from be_analytic_etl_spark.sources import load_table

    scored = [
        (r["source"], float(r["__q6"]))
        for r in load_table(spark, sf_dir, "documents")
        .select("source", _q6())
        .collect()
    ]
    out = _run(spark, "ext_kruskal_wallis", sf_dir)[0]
    n = len(scored)
    k = len({s for s, _ in scored})
    assert (out["n"], out["k"]) == (n, k)
    ranks = _midranks([q for _, q in scored])
    by = defaultdict(list)
    for s, q in scored:
        by[s].append(q)
    if k < 2 or n <= 1:
        assert out["h_stat"] is None
        return
    h = (12.0 / (n * (n + 1))) * sum(
        len(xs) * (sum(ranks[q] for q in xs) / len(xs) - (n + 1) / 2) ** 2
        for xs in by.values()
    )
    assert out["h_stat"] == pytest.approx(h, abs=1e-5)
    t3 = sum(t**3 - t for t in Counter(q for _, q in scored).values())
    corr = 1.0 - t3 / (n**3 - n)
    if corr > 0:
        assert out["h_tie_corrected"] == pytest.approx(h / corr, abs=1e-5)
    else:
        assert out["h_tie_corrected"] is None


@pytest.mark.parametrize("seed", [30, 31, 32])
def test_cvm_on_random_corpus(spark, tmp_path, seed):
    """Registered two-sample CvM vs the step-CDF definition
    T = n1*n2/N * sum_v (g_v/N) (F1(v) - F2(v))^2 over distinct pooled
    values — including the single-language degenerate (NULL)."""
    rng = random.Random(seed)
    langs = ["en", "fr", "zh"][: rng.choice([1, 2, 3])]
    rows = _rand_corpus(rng, langs)
    sf_dir = str(tmp_path / f"sf_cvm{seed}")
    _write_documents_langs(spark, sf_dir, rows)

    scores = _collected_scores(spark, sf_dir)
    out = _run(spark, "ext_cvm", sf_dir)[0]
    xs = sorted(q for lg, _, q in scores if lg == "en")
    ys = sorted(q for lg, _, q in scores if lg != "en")
    n1, n2 = len(xs), len(ys)
    assert (out["n_en"], out["n_rest"]) == (n1, n2)
    if n1 == 0 or n2 == 0:
        assert out["cvm_t"] is None
        return
    pooled = Counter(q for _, _, q in scores)
    nn = n1 + n2
    acc = 0.0
    c1 = c2 = 0
    for v in sorted(pooled):
        c1 += sum(1 for x in xs if x == v)
        c2 += sum(1 for y in ys if y == v)
        d = c1 / n1 - c2 / n2
        acc += (pooled[v] / nn) * d * d
    t = n1 * n2 * acc / nn
    assert out["cvm_t"] == pytest.approx(t, abs=1e-5)


@pytest.mark.parametrize("seed", [40, 41, 42])
def test_wasserstein_on_random_corpus(spark, tmp_path, seed):
    """Registered per-lang W1 (exact decimal CDF-gap integral) vs the
    brute step-function integral over the sorted pooled support."""
    rng = random.Random(seed)
    langs = ["en", "fr", "zh"][: rng.choice([1, 2, 3])]
    rows = _rand_corpus(rng, langs)
    sf_dir = str(tmp_path / f"sf_w1{seed}")
    _write_documents_langs(spark, sf_dir, rows)

    scores = _collected_scores(spark, sf_dir)
    out = {r["lang"]: r for r in _run(spark, "ext_wasserstein", sf_dir)}
    vals = sorted({q for _, _, q in scores})
    if len(vals) < 2:
        # single-point score domain: no CDF gap rows exist, and the
        # query (and its oracle, identically) emit ZERO rows
        assert out == {}
        return
    for lg in {l_ for l_, _, _ in scores}:
        xs = [q for l_, _, q in scores if l_ == lg]
        ys = [q for l_, _, q in scores if l_ != lg]
        r = out[lg]
        assert r["n_lang"] == len(xs)
        if not ys:
            assert r["wasserstein_1"] is None
            continue
        w1 = 0.0
        for a, b in zip(vals, vals[1:]):
            fl = sum(1 for x in xs if x <= a) / len(xs)
            fr = sum(1 for y in ys if y <= a) / len(ys)
            w1 += abs(fl - fr) * (b - a)
        assert r["wasserstein_1"] == pytest.approx(w1, abs=1e-6)


@pytest.mark.parametrize("seed", [50, 51, 52])
def test_jonckheere_on_random_corpus(spark, tmp_path, seed):
    """Registered JT (dense-grid double-cumulative algebra) vs direct
    pair counting over ordered length buckets: 2J = sum over bucket
    pairs a<b of (2*#(x<y) + #(x==y)), plus the documented
    tie-uncorrected normal moments."""
    rng = random.Random(seed)
    # DECOUPLE the bucket driver (the n_chars COLUMN, spread over the
    # 0..5 length buckets) from the score driver (the text, short
    # enough that quality_score varies): _write_documents_langs ties
    # text to n_chars, so write directly here.
    rows = [
        (i, "word " * rng.randint(1, 24), "en", "web", rng.randint(5, 2600))
        for i in range(rng.randint(2, 60))
    ]
    sf_dir = str(tmp_path / f"sf_jt{seed}")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    from be_analytic_etl_spark.queries.statistics import _JT_LEN_DIV, _JT_LEN_MAX, _q6
    from be_analytic_etl_spark.sources import load_table

    scored = [
        (min(r["n_chars"] // _JT_LEN_DIV, _JT_LEN_MAX), float(r["__q6"]))
        for r in load_table(spark, sf_dir, "documents")
        .select("n_chars", _q6())
        .collect()
    ]
    out = _run(spark, "ext_jonckheere", sf_dir)[0]
    by = defaultdict(list)
    for b, q in scored:
        by[b].append(q)
    bks = sorted(by)
    j2 = sum(
        2 * (x < y) + (x == y)
        for i, a in enumerate(bks)
        for b in bks[i + 1 :]
        for x in by[a]
        for y in by[b]
    )
    n = len(scored)
    assert (out["n"], out["k"], out["j2"]) == (n, len(bks), j2)
    s2 = sum(len(v) ** 2 for v in by.values())
    s3 = sum(len(v) ** 2 * (2 * len(v) + 3) for v in by.values())
    e4 = n * n - s2
    var72 = n * n * (2 * n + 3) - s3
    if len(bks) >= 2 and var72 > 0:
        z = (2 * j2 - e4) / (4 * math.sqrt(var72 / 72))
        assert out["z_stat"] == pytest.approx(z, abs=1e-5)
    else:
        assert out["z_stat"] is None


def _write_daily(spark, path: str, rows) -> None:
    """rows: (date_str, cents) -> an events table whose _daily_cents
    frame is exactly those (day, cents) rows (one event per day at
    value cents/100)."""
    df = spark.createDataFrame(
        [
            (i, f"{d} 12:00:00", 1, "view", c / 100.0, None)
            for i, (d, c) in enumerate(rows)
        ],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def _pymedian(xs):
    xs = sorted(xs)
    n = len(xs)
    return (xs[(n - 1) // 2] + xs[n // 2]) / 2


@pytest.mark.parametrize("seed", [40, 41, 42])
def test_hodges_lehmann_on_random_series(spark, tmp_path, seed):
    """Registered HL (two-middle-rank selection over the weekend x
    weekday pair join) vs the textbook median of ALL pairwise
    differences — VERDICT r10 ask #6."""
    from be_analytic_etl_spark.registry import QUERIES

    rng = random.Random(seed)
    import datetime

    start = datetime.date(2024, 1, 1)
    n_days = rng.randint(8, 40)
    rows = [
        (str(start + datetime.timedelta(days=i)), rng.randint(-500, 50000))
        for i in range(n_days)
    ]
    sf_dir = str(tmp_path / f"sf_hl{seed}")
    _write_daily(spark, sf_dir, rows)
    out = _run(spark, "ext_hodges_lehmann", sf_dir)[0]
    wk = [c for d, c in rows if datetime.date.fromisoformat(d).weekday() >= 5]
    wd = [c for d, c in rows if datetime.date.fromisoformat(d).weekday() < 5]
    assert (out["n_weekend"], out["n_weekday"]) == (len(wk), len(wd))
    diffs = [x - y for x in wk for y in wd]
    assert out["n_pairs"] == len(diffs)
    if diffs:
        assert out["hl_shift_cents"] == pytest.approx(
            _pymedian(diffs), abs=1e-9
        )


@pytest.mark.parametrize("seed", [43, 44, 45])
def test_siegel_slopes_on_random_series(spark, tmp_path, seed):
    """Registered Siegel repeated medians vs the direct O(n^2) loop:
    per-day median of pairwise slopes, then the median of medians."""
    from be_analytic_etl_spark.registry import QUERIES

    rng = random.Random(seed)
    import datetime

    start = datetime.date(2024, 3, 1)
    n_days = rng.randint(3, 25)
    days = sorted(rng.sample(range(120), n_days))
    rows = [
        (str(start + datetime.timedelta(days=d)), rng.randint(0, 40000))
        for d in days
    ]
    sf_dir = str(tmp_path / f"sf_sg{seed}")
    _write_daily(spark, sf_dir, rows)
    out = _run(spark, "ext_siegel_slopes", sf_dir)[0]
    assert out["n_days"] == n_days
    permed = []
    for i, (di, ci) in enumerate(zip(days, [c for _, c in rows])):
        slopes = [
            (cj - ci) / (dj - di)
            for j, (dj, cj) in enumerate(zip(days, [c for _, c in rows]))
            if j != i
        ]
        if slopes:
            permed.append(_pymedian(slopes))
    if len(days) >= 2:
        assert out["siegel_slope"] == pytest.approx(
            _pymedian(permed), abs=1e-9
        )


@pytest.mark.parametrize("seed", [46, 47, 48])
def test_hellinger_on_random_corpus(spark, tmp_path, seed):
    """Registered per-language Hellinger vs the direct decile-histogram
    computation: BC = sum_b sqrt(p_lang * p_rest) — VERDICT r10 ask #6."""
    rng = random.Random(seed)
    langs = ["en", "fr", "zh"][: rng.choice([1, 2, 3])]
    rows = []
    for lg in langs:
        rows += [(lg, n) for (lg2, _, n) in _rand_corpus(rng, [lg])]
    rows = [(lg, "web", n) for lg, n in rows]
    sf_dir = str(tmp_path / f"sf_he{seed}")
    _write_documents_langs(spark, sf_dir, rows)
    scored = _collected_scores(spark, sf_dir)
    out = {r["lang"]: r for r in _run(spark, "ext_hellinger", sf_dir)}
    n = len(scored)
    bins = defaultdict(Counter)
    for lg, _, q in scored:
        b = min(int(q * 10), 9)
        bins[lg][b] += 1
    for lg in {s for s, _, _ in scored}:
        nl = sum(bins[lg].values())
        row = out[lg]
        assert row["n_lang"] == nl
        if nl == 0 or nl == n:
            assert row["bhattacharyya"] is None
            continue
        bc = 0.0
        for b in range(10):
            cl = bins[lg][b]
            cr = sum(bins[l2][b] for l2 in bins if l2 != lg)
            bc += math.sqrt((cl / nl) * (cr / (n - nl)))
        assert row["bhattacharyya"] == pytest.approx(bc, abs=1e-5)
        assert row["hellinger"] == pytest.approx(
            math.sqrt(max(0.0, 1.0 - bc)), abs=1e-5
        )


@pytest.mark.parametrize("seed", [49, 50, 51])
def test_cramers_v_on_random_corpus(spark, tmp_path, seed):
    """Registered Cramér's V vs a direct contingency-table computation
    (chi2, V, and the Bergsma correction) — VERDICT r10 ask #6."""
    rng = random.Random(seed)
    sources = ["web", "books", "s3", "s4"][: rng.choice([1, 2, 4])]
    rows = []
    for src in sources:
        rows += [
            ("en", src, n) for (_, _, n) in _rand_corpus(rng, ["en"])
        ]
    sf_dir = str(tmp_path / f"sf_cv{seed}")
    _write_documents_langs(spark, sf_dir, rows)

    from be_analytic_etl_spark.queries.statistics import _q6
    from be_analytic_etl_spark.sources import load_table

    scored = [
        (r["source"], min(int(float(r["__q6"]) * 10), 9))
        for r in load_table(spark, sf_dir, "documents")
        .select("source", _q6())
        .collect()
    ]
    out = _run(spark, "ext_cramers_v", sf_dir)[0]
    n = len(scored)
    cells = Counter(scored)
    rm = Counter(s for s, _ in scored)
    cm = Counter(b for _, b in scored)
    nr, nc = len(rm), len(cm)
    assert (out["n"], out["n_rows"], out["n_cols"]) == (n, nr, nc)
    chi2 = sum(
        (c - rm[s] * cm[b] / n) ** 2 / (rm[s] * cm[b] / n)
        for (s, b), c in cells.items()
    )
    # off-support cells contribute E (O=0): include them like the query
    chi2 += sum(
        rm[s] * cm[b] / n
        for s in rm
        for b in cm
        if (s, b) not in cells
    )
    if nr < 2 or nc < 2 or n <= 2:
        assert out["cramers_v"] is None
        return
    phi2 = chi2 / n
    v = math.sqrt(phi2 / min(nr - 1, nc - 1))
    assert out["cramers_v"] == pytest.approx(v, abs=1e-4)
    phi2c = max(0.0, phi2 - (nr - 1) * (nc - 1) / (n - 1))
    rc = nr - (nr - 1) ** 2 / (n - 1)
    cc = nc - (nc - 1) ** 2 / (n - 1)
    if min(rc, cc) > 1:
        assert out["cramers_v_corrected"] == pytest.approx(
            math.sqrt(phi2c / (min(rc, cc) - 1)), abs=1e-4
        )
