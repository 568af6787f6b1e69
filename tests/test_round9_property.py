"""Property-based end-to-end checks: run the REGISTERED round-9 queries
on randomized synthetic parquet corpora (written to tmp dirs shaped like
a testdata sf dir) and compare against naive brute-force recomputation.
This exercises the exact code path the driver runs — including the
histogram windows and the two-middle-rank selection — on edge shapes the
fixed testdata can't produce (single source, all-tied values, even/odd
group sizes)."""

from __future__ import annotations

import random

import pytest

SOURCES = ["web", "books", "ALL_TIES", "s4"]


def _write_documents(spark, path: str, rows: list[tuple[str, int]]) -> None:
    df = spark.createDataFrame(
        [
            (i, "word " * max(1, n // 5), "en", src, n)
            for i, (src, n) in enumerate(rows)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_cliffs_delta_registered_query_on_random_corpus(spark, tmp_path, seed):
    from be_analytic_etl_spark.registry import QUERIES

    rng = random.Random(seed)
    n_src = rng.choice([1, 2, 4])
    rows = []
    for s in SOURCES[:n_src]:
        size = rng.randint(1, 40)
        if s == "ALL_TIES":
            rows += [(s, 100)] * size  # one value, maximal ties
        else:
            rows += [(s, rng.randint(0, 30)) for _ in range(size)]
    sf_dir = str(tmp_path / f"sf_rand{seed}")
    _write_documents(spark, sf_dir, rows)

    out = {
        r["source"]: r
        for r in QUERIES["ext_cliffs_delta"](spark, sf_dir).collect()
    }
    assert set(out) == {s for s, _ in rows}
    n_total = len(rows)
    for s in out:
        xs = [v for src, v in rows if src == s]
        ys = [v for src, v in rows if src != s]
        wins = sum(1 for x in xs for y in ys if x > y)
        losses = sum(1 for x in xs for y in ys if x < y)
        ties = sum(1 for x in xs for y in ys if x == y)
        assert out[s]["n_docs"] == len(xs)
        assert out[s]["wins"] == wins and out[s]["ties"] == ties
        if len(xs) == n_total:  # single source: delta undefined -> NULL
            assert out[s]["cliffs_delta"] is None
        else:
            assert out[s]["cliffs_delta"] == pytest.approx(
                (wins - losses) / (len(xs) * len(ys))
            )


@pytest.mark.parametrize("n_days", [1, 2, 7, 8])
def test_theil_sen_and_runs_on_tiny_calendars(spark, tmp_path, n_days):
    """Even/odd pair counts, two-day and one-day calendars: the median
    selection and the runs degenerate guards must hold on the real
    registered queries."""
    from be_analytic_etl_spark.registry import QUERIES

    rng = random.Random(n_days)
    rows = []
    eid = 0
    for d in range(1, n_days + 1):
        for _ in range(rng.randint(1, 3)):
            rows.append(
                (eid, f"2024-03-{d:02d} 12:00:00", 1, "click",
                 round(rng.uniform(1, 50), 2), "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props",
    )
    sf_dir = str(tmp_path / f"sf_cal{n_days}")
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    # brute-force daily cents
    from collections import defaultdict

    daily = defaultdict(int)
    for _, ts, _, _, v, _ in rows:
        daily[ts[:10]] += round(v * 100)
    days = sorted(daily)

    if n_days >= 2:
        ts_out = QUERIES["ext_theil_sen"](spark, sf_dir).collect()[0]
        slopes = sorted(
            (daily[db] - daily[da]) / (int(db[8:]) - int(da[8:]))
            for i, da in enumerate(days)
            for db in days[i + 1 :]
        )
        np = len(slopes)
        want = (slopes[(np + 1) // 2 - 1] + slopes[np // 2]) / 2
        assert ts_out["n_pairs"] == np
        assert ts_out["theil_sen_slope"] == pytest.approx(want)

    runs_out = QUERIES["ext_runs_test"](spark, sf_dir).collect()[0]
    cs = sorted(daily.values())
    med2 = cs[(len(cs) + 1) // 2 - 1] + cs[len(cs) // 2]
    signs = [1 if 2 * daily[d] > med2 else 0 for d in days if 2 * daily[d] != med2]
    assert runs_out["n_used"] == len(signs)
    if len(signs) == 0:
        assert runs_out["z_stat"] is None
    else:
        assert runs_out["runs"] == 1 + sum(
            1 for a, b in zip(signs, signs[1:]) if a != b
        )


@pytest.mark.parametrize("seed", [3, 4])
def test_gini_lorenz_kendall_on_random_corpus(spark, tmp_path, seed):
    """Registered Gini / Lorenz / tau-b on randomized corpora vs naive
    recomputation (token counts derive from the synthesized text, so
    the brute force re-tokenizes the same way)."""
    from be_analytic_etl_spark.registry import QUERIES

    rng = random.Random(seed)
    n = rng.randint(12, 60)
    rows = [(SOURCES[i % 3], rng.randint(0, 40) * 5) for i in range(n)]
    sf_dir = str(tmp_path / f"sf_glk{seed}")
    _write_documents(spark, sf_dir, rows)

    # text is "word " * max(1, n_chars // 5) -> token count is exactly
    # max(1, n_chars // 5)
    toks = sorted(max(1, nc // 5) for _, nc in rows)
    tot = sum(toks)
    gini_bf = 2 * sum((i + 1) * x for i, x in enumerate(toks)) / (n * tot) - (
        n + 1
    ) / n
    g = QUERIES["ext_gini_tokens"](spark, sf_dir).collect()[0]
    assert g["n_docs"] == n and g["total_tokens"] == tot
    assert g["gini"] == pytest.approx(gini_bf)

    lor = sorted(
        QUERIES["ext_token_lorenz"](spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    for r in lor:
        rank = n * r["decile"] // 10
        want = sum(toks[:rank]) / tot
        assert r["rank"] == rank
        assert r["cum_token_share"] == pytest.approx(want)


@pytest.mark.parametrize("seed", [5, 6])
def test_mcnemar_counts_on_random_corpus(spark, tmp_path, seed):
    """The registered McNemar disagreement cells must satisfy the
    marginal identities n_01, n_10 >= 0, n_01 + n_10 <= n, and the chi2
    formula — on corpora random enough that both gates actually fire
    both ways."""
    from be_analytic_etl_spark.registry import QUERIES

    rng = random.Random(seed)
    rows = [(SOURCES[i % 2], rng.randint(5, 2000)) for i in range(40)]
    sf_dir = str(tmp_path / f"sf_mc{seed}")
    _write_documents(spark, sf_dir, rows)
    out = QUERIES["ext_mcnemar"](spark, sf_dir).collect()[0]
    assert out["n_docs"] == 40
    assert 0 <= out["n_01"] + out["n_10"] <= 40
    b, c = out["n_01"], out["n_10"]
    if b + c:
        assert out["mcnemar_chi2"] == pytest.approx((b - c) ** 2 / (b + c))
    else:
        assert out["mcnemar_chi2"] is None


def _write_documents_langs(spark, path: str, rows) -> None:
    """rows: (lang, source, n_chars) — text synthesized as in
    _write_documents so token-derived scores vary with n_chars."""
    df = spark.createDataFrame(
        [
            (i, "word " * max(1, n // 5), lang, src, n)
            for i, (lang, src, n) in enumerate(rows)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def _collected_scores(spark, sf_dir):
    """(lang, n_chars, q6) per doc, with q6 computed by the SAME _q6
    expression the registered queries use — the brute force below then
    checks the RANK ALGEBRA (pair counting vs the bounded-histogram
    trick), which is the identity the r9 verdict asked to pin."""
    from be_analytic_etl_spark.queries.statistics import _q6
    from be_analytic_etl_spark.sources import load_table

    return [
        (r["lang"], r["n_chars"], float(r["__q6"]))
        for r in load_table(spark, sf_dir, "documents")
        .select("lang", "n_chars", _q6())
        .collect()
    ]


@pytest.mark.parametrize("seed", [7, 8, 9])
def test_mann_whitney_pair_identity_on_random_corpus(spark, tmp_path, seed):
    """Registered Mann-Whitney vs direct O(n^2) pair counting: 2U, the
    rank-biserial, and the tie-corrected z — including all-tied groups
    (ALL_TIES source yields identical scores) and even/odd group
    sizes."""
    import math

    from be_analytic_etl_spark.registry import QUERIES

    rng = random.Random(seed)
    langs = ["en", "fr", "zh"][: rng.choice([1, 2, 3])]
    rows = []
    for lg in langs:
        size = rng.randint(1, 30)
        if rng.random() < 0.3:
            rows += [(lg, "web", 100)] * size  # one score value: max ties
        else:
            rows += [(lg, "web", rng.randint(5, 300)) for _ in range(size)]
    sf_dir = str(tmp_path / f"sf_mw{seed}")
    _write_documents_langs(spark, sf_dir, rows)

    scores = _collected_scores(spark, sf_dir)
    out = {r["lang"]: r for r in QUERIES["ext_mann_whitney"](spark, sf_dir).collect()}
    assert set(out) == set(langs)
    n = len(scores)
    from collections import Counter

    tie3 = sum(
        t**3 - t for t in Counter(q for _, _, q in scores).values()
    )
    for lg in langs:
        xs = [q for l_, _, q in scores if l_ == lg]
        ys = [q for l_, _, q in scores if l_ != lg]
        u2 = sum(
            2 * (x > y) + (x == y) for x in xs for y in ys
        )
        r = out[lg]
        assert r["n_docs"] == len(xs) and r["u2"] == u2
        if not ys:
            assert r["rank_biserial"] is None and r["z_stat"] is None
            continue
        n1, n2 = len(xs), len(ys)
        assert r["rank_biserial"] == pytest.approx((u2 - n1 * n2) / (n1 * n2))
        var = (n1 * n2 / 12) * ((n + 1) - tie3 / (n * (n - 1)))
        if var > 0:
            assert r["z_stat"] == pytest.approx(
                (u2 - n1 * n2) / (2 * math.sqrt(var)), abs=1e-6
            )
        else:
            assert r["z_stat"] is None


@pytest.mark.parametrize("seed", [10, 11, 12])
def test_kendall_tau_pair_identity_on_random_corpus(spark, tmp_path, seed):
    """Registered tau-b vs direct O(n^2) pair counting over the SAME
    (score-decile, length-bucket) cell assignment — concordant /
    discordant counts must match exactly; tau-b to 6dp."""
    import math

    from be_analytic_etl_spark.registry import QUERIES

    rng = random.Random(seed)
    n = rng.randint(8, 50)
    rows = [("en", "web", rng.randint(5, 6200)) for _ in range(n)]
    sf_dir = str(tmp_path / f"sf_kt{seed}")
    _write_documents_langs(spark, sf_dir, rows)

    scores = _collected_scores(spark, sf_dir)
    pts = [
        (min(int(q * 10), 9), min(nc // 200, 29)) for _, nc, q in scores
    ]
    conc = disc = 0
    for i in range(len(pts)):
        for j in range(len(pts)):
            (x1, y1), (x2, y2) = pts[i], pts[j]
            if x1 < x2:
                conc += y1 < y2
                disc += y1 > y2
    out = QUERIES["ext_kendall_tau"](spark, sf_dir).collect()[0]
    assert out["n_docs"] == n
    assert out["concordant"] == conc and out["discordant"] == disc
    from collections import Counter

    n0 = n * (n - 1) / 2
    t1 = sum(
        t * (t - 1) / 2 for t in Counter(x for x, _ in pts).values()
    )
    t2 = sum(
        t * (t - 1) / 2 for t in Counter(y for _, y in pts).values()
    )
    d1, d2 = n0 - t1, n0 - t2
    if d1 > 0 and d2 > 0:
        assert out["tau_b"] == pytest.approx(
            (conc - disc) / math.sqrt(d1 * d2), abs=1e-6
        )
    else:
        assert out["tau_b"] is None
