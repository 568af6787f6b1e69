"""Round-8 operator properties: each new estimator is checked against
an independent brute-force computation on small random frames, plus the
distributed-correctness property that matters for its plan shape
(partition/order invariance for the sketches, exact-integer argmax for
CUSUM, rank-definition equality for the t-digest)."""

from __future__ import annotations

import random
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# t-digest: cluster weights/centroids must equal a brute-force rank
# assignment of the SORTED values to the same boundary ranks, for any
# input order/partitioning, and the weights must sum to n exactly.
@given(seed=st.integers(0, 10_000), n_parts=st.sampled_from([1, 3, 13]))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_tdigest_matches_bruteforce(spark, seed, n_parts):
    from be_analytic_etl_spark.operators.sketches import (
        tdigest_clusters,
        tdigest_scale_millionths,
    )

    rng = random.Random(seed)
    delta = 8
    vals = [rng.randint(0, 50) for _ in range(rng.randint(1, 300))]
    df = spark.createDataFrame(
        [(v,) for v in vals], "v long"
    ).repartition(n_parts)
    got = {
        r["cluster"]: (r["weight"], r["centroid"], r["v_min"], r["v_max"])
        for r in tdigest_clusters(df, "v", delta=delta).collect()
    }

    n = len(vals)
    qs = tdigest_scale_millionths(delta)
    bounds = [0] + [(n * q + 500_000) // 1_000_000 for q in qs]
    s = sorted(vals)
    want: dict[int, list[int]] = {}
    for rank0, v in enumerate(s):
        rank = rank0 + 1
        # cluster c owns ranks (bounds[c-1], bounds[c]]
        c = next(
            c for c in range(1, delta + 1)
            if bounds[c - 1] < rank <= bounds[c]
        )
        want.setdefault(c, []).append(v)
    assert set(got) == set(want)
    assert sum(w for w, *_ in got.values()) == n
    for c, members in want.items():
        w, centroid, v_min, v_max = got[c]
        assert w == len(members)
        assert v_min == min(members) and v_max == max(members)
        assert centroid == pytest.approx(sum(members) / len(members), abs=1e-12)


def test_tdigest_boundaries_tail_resolution():
    """The arcsine scale function must put finer clusters at the tails
    than in the middle (the property that distinguishes a t-digest from
    an equi-depth histogram)."""
    from be_analytic_etl_spark.operators.sketches import (
        tdigest_scale_millionths,
    )

    qs = [0] + tdigest_scale_millionths(32)
    widths = [b - a for a, b in zip(qs, qs[1:])]
    assert widths[0] < widths[15]  # tail cluster finer than middle
    assert widths[-1] < widths[15]
    assert qs[-1] == 1_000_000


# ---------------------------------------------------------------------------
# k-mins: estimate within sketch error of the true distinct count;
# partition-order invariant; ALL row equals the sketch computed
# directly on the pooled items (mergeability).
@given(seed=st.integers(0, 10_000), n_parts=st.sampled_from([1, 3, 13]))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kmins_estimate_and_merge(spark, seed, n_parts):
    from be_analytic_etl_spark.operators.sketches import kmins_distinct

    rng = random.Random(seed)
    rows = [
        (rng.choice(["a", "b"]), f"u{rng.randint(0, 400)}")
        for _ in range(rng.randint(50, 600))
    ]
    df = spark.createDataFrame(rows, "grp string, item string").repartition(
        n_parts
    )
    got = {r["scope"]: r for r in kmins_distinct(df, "grp", "item", k=64).collect()}
    true_all = len({i for _, i in rows})
    est = got["ALL"]["kmins_est"]
    # k=64 -> relative standard error ~ 1/sqrt(k-2) ~ 13%; allow 5 sigma.
    assert est == pytest.approx(true_all, rel=0.65)
    assert got["ALL"]["n_rows"] == len(rows)

    pooled = spark.createDataFrame(
        [("ALL0", i) for _, i in rows], "grp string, item string"
    )
    direct = {
        r["scope"]: r["kmins_est"]
        for r in kmins_distinct(pooled, "grp", "item", k=64).collect()
    }
    # merged ALL row == sketch of the pooled multiset (exact equality:
    # same hashes, elementwise min merge).
    assert got["ALL"]["kmins_est"] == direct["ALL0"] == direct["ALL"]


# ---------------------------------------------------------------------------
# CUSUM: a clean level shift must be located exactly; the scan must be
# input-order invariant (exact integer argmax).
def test_cusum_finds_step(spark):
    from be_analytic_etl_spark.operators.timeseries import cusum_changepoint

    rows = []
    for d in range(1, 31):
        level = 100.00 if d <= 20 else 500.00
        rows.append((f"2024-01-{d:02d} 12:00:00", level))
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    )
    out = cusum_changepoint(df, "ts", "c").collect()[0]
    assert str(out["cp_day"]) == "2024-01-20"  # last day of the old level
    assert out["n_days"] == 30
    assert out["mean_before"] == pytest.approx(100.0)
    assert out["mean_after"] == pytest.approx(500.0)
    assert out["mean_shift"] == pytest.approx(400.0)


def test_cusum_constant_series_degenerate(spark):
    from be_analytic_etl_spark.operators.timeseries import cusum_changepoint

    rows = [(f"2024-02-{d:02d} 00:00:00", 50.0) for d in range(1, 11)]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    )
    out = cusum_changepoint(df, "ts", "c").collect()[0]
    # all |S| = 0 -> earliest day wins; shift is 0
    assert str(out["cp_day"]) == "2024-02-01"
    assert out["cusum_peak"] == 0.0
    assert out["mean_shift"] == pytest.approx(0.0)


# ---------------------------------------------------------------------------
# PSI: run the registered fold (grid / left-join / fillna / smoothed
# terms) on a synthetic binned frame — a source distributed like the
# corpus must score ~0 and a concentrated source must rank far higher.
def test_psi_orders_sources_by_drift(spark):
    from be_analytic_etl_spark.queries.statistics import _PSI_BINS, psi_from_binned

    rows = []
    # "flat": 200 docs in every bin — dominates the pool, so it sits
    # close to the pooled reference distribution.
    for b in range(_PSI_BINS):
        rows += [("flat", b)] * 200
    # "spiky": all 100 docs in bin 0 — maximal drift, and bins 1..9 are
    # EMPTY for it, so the left-join fillna path is exercised.
    rows += [("spiky", 0)] * 100
    binned = spark.createDataFrame(rows, "source string, bin int")
    out = {r["source"]: r for r in psi_from_binned(binned).collect()}
    assert out["flat"]["n_docs"] == 2000 and out["spiky"]["n_docs"] == 100
    assert out["spiky"]["psi"] > out["flat"]["psi"]
    # the in-distribution source drifts only by spiky's bin-0 pool mass
    # and must sit far below the concentrated source.
    assert out["spiky"]["psi"] > 10 * abs(out["flat"]["psi"])
    assert out["spiky"]["psi"] > 1.0
    assert abs(out["flat"]["psi"]) < 0.1


# k-mins sentinel guard: a genuine group named like the merged row's
# label must fail the job loudly, never silently fold into the merge.
def test_kmins_merged_label_collision_raises(spark):
    from be_analytic_etl_spark.operators.sketches import kmins_distinct

    df = spark.createDataFrame(
        [("ALL", "u1"), ("b", "u2")], "grp string, item string"
    )
    with pytest.raises(Exception, match="merged_label"):
        kmins_distinct(df, "grp", "item", k=8).collect()
    # out-of-domain label -> same data passes, merge row re-labeled.
    got = {
        r["scope"]
        for r in kmins_distinct(
            df, "grp", "item", k=8, merged_label="__ALL__"
        ).collect()
    }
    assert got == {"ALL", "b", "__ALL__"}


# ---------------------------------------------------------------------------
# NDCG: discount/prefix tables must be consistent (prefix sums of the
# per-rank discounts, both exact decimals) and ndcg bounded by 1 on the
# registered query's own data path at sf0.001.
def test_ndcg_tables_consistent():
    from be_analytic_etl_spark.queries.statistics import _NDCG_PREFIX, _NDCG_W6

    acc = Decimal(0)
    for w, p in zip(_NDCG_W6, _NDCG_PREFIX):
        acc += w
        assert acc == p
    assert _NDCG_W6[0] == Decimal("1")
    assert all(a > b for a, b in zip(_NDCG_W6, _NDCG_W6[1:]))


def test_ndcg_bounded(spark):
    sf_dir = "/root/testdata/sf0.001"
    from be_analytic_etl_spark.queries.statistics import q_ext_ndcg

    rows = q_ext_ndcg(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["ndcg"] is not None:
            assert 0.0 <= r["ndcg"] <= 1.0 + 1e-12
            assert r["dcg"] <= r["idcg"] + 1e-12


# ---------------------------------------------------------------------------
# Lift curve: monotone coverage and the top decile of a real classifier
# should out-lift the base rate; the bottom cumulative row IS the base
# rate (lift exactly 1 at full coverage).
def test_lift_full_coverage_is_base_rate(spark):
    sf_dir = "/root/testdata/sf0.001"
    from be_analytic_etl_spark.queries.statistics import q_ext_lift_curve

    rows = sorted(
        q_ext_lift_curve(spark, sf_dir).collect(), key=lambda r: r["bin"]
    )
    full = rows[0]  # lowest bin -> cumulative over everything
    assert full["cum_n"] == sum(r["n_b"] for r in rows)
    assert full["lift"] == pytest.approx(1.0)
    assert rows[-1]["lift"] >= 1.0  # top decile at least base rate


# ---------------------------------------------------------------------------
# Benford: digit table covers 1..9 exactly and freqs sum to 1.
def test_benford_digit_table(spark):
    sf_dir = "/root/testdata/sf0.001"
    from be_analytic_etl_spark.queries.statistics import q_ext_benford_digits

    rows = q_ext_benford_digits(spark, sf_dir).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert sum(r["freq"] for r in rows) == pytest.approx(1.0)
    assert sum(r["expected"] for r in rows) == pytest.approx(1.0, abs=1e-5)


# ---------------------------------------------------------------------------
# PII audit: synthesized PII lands on every third doc_id, so pii_docs
# must equal the count of doc_id % 3 == 0 per source, and every email
# the salt injects is counted.
def test_pii_audit_ground_truth(spark):
    sf_dir = "/root/testdata/sf0.001"
    from be_analytic_etl_spark.queries.text import q_ext_pii_audit
    from be_analytic_etl_spark.queries._shared import _t

    docs = _t(spark, sf_dir, "documents")
    want = {
        r["source"]: r["n"]
        for r in docs.filter(F.col("doc_id") % 3 == 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {r["source"]: r for r in q_ext_pii_audit(spark, sf_dir).collect()}
    for src, n_salted in want.items():
        assert got[src]["n_emails"] >= n_salted
        assert got[src]["pii_docs"] >= n_salted


# ---------------------------------------------------------------------------
# Batch 2: Mann-Kendall / ACF / ANOVA / DOW seasonality.
def test_mann_kendall_detects_trend(spark, tmp_path):
    """A strictly increasing series has S = n(n-1)/2 and a large
    positive z; a constant series has S = 0 and var_num = 0."""
    from be_analytic_etl_spark.queries.events import q_ext_mann_kendall

    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    d = tmp_path / "mk"
    d.mkdir()
    rows = {
        "event_id": list(range(1, 21)),
        "ts": [datetime(2024, 3, i + 1, 12) for i in range(20)],
        "user_id": [1] * 20,
        "event_type": ["view"] * 20,
        "value": [float(i + 1) for i in range(20)],  # strictly increasing
        "props": ["{}"] * 20,
    }
    pq.write_table(pa.table(rows), str(d / "events.parquet"))
    out = q_ext_mann_kendall(spark, str(d)).collect()[0]
    n = 20
    assert out["n_days"] == n
    assert out["s_stat"] == n * (n - 1) // 2
    assert out["var_num"] == n * (n - 1) * (2 * n + 5)
    assert out["z_stat"] > 3.0


def test_acf_periodic_series(spark, tmp_path):
    """A period-2 alternating series has strongly negative acf at lag 1
    and strongly positive at lag 2."""
    from be_analytic_etl_spark.queries.events import q_ext_acf

    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    d = tmp_path / "acf"
    d.mkdir()
    n = 28
    rows = {
        "event_id": list(range(1, n + 1)),
        "ts": [datetime(2024, 4, 1 + i, 6) for i in range(n)],
        "user_id": [1] * n,
        "event_type": ["view"] * n,
        "value": [100.0 if i % 2 == 0 else 10.0 for i in range(n)],
        "props": ["{}"] * n,
    }
    pq.write_table(pa.table(rows), str(d / "events.parquet"))
    got = {r["lag"]: r["acf"] for r in q_ext_acf(spark, str(d)).collect()}
    # perfect alternation: acf(1) = -(n-1)/n, acf(2) = (n-2)/n
    assert got[1] == pytest.approx(-(n - 1) / n)
    assert got[2] == pytest.approx((n - 2) / n)


def test_anova_f_between_vs_within(spark):
    """ANOVA identity on the real data path: SS_between + SS_within must
    equal the total sum of squares (up to the 6dp quantization), and F
    is nonnegative."""
    from be_analytic_etl_spark.queries.statistics import q_ext_anova_f

    out = q_ext_anova_f(spark, "/root/testdata/sf0.001").collect()[0]
    assert out["k"] > 1 and out["n"] > out["k"]
    assert out["ss_between"] >= -1e-6
    assert out["ss_within"] >= -1e-6
    if out["f_stat"] is not None:
        assert out["f_stat"] >= 0.0


def test_dow_index_averages_to_one(spark):
    """The weighted mean of dow_index over days is exactly 1 (it is a
    ratio of shares), and dows cover only 0..6."""
    from be_analytic_etl_spark.queries.events import q_ext_dow_seasonality

    rows = q_ext_dow_seasonality(spark, "/root/testdata/sf0.001").collect()
    assert all(0 <= r["dow"] <= 6 for r in rows)
    tot_days = sum(r["n_days"] for r in rows)
    weighted = sum(r["dow_index"] * r["n_days"] for r in rows) / tot_days
    # sum_d (tot_d * ND / (nd_d * TC)) * nd_d / ND = sum tot_d / TC = 1
    assert weighted == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# Batch 3: t-digest read, Zipf fit, burstiness, fertility.
def test_tdigest_read_error_bounded_by_cluster_span(spark):
    """Each quantile read's error must be bounded by the owning
    cluster's value span (the centroid and the exact value both lie
    inside [v_min, v_max]), and the exact values must be the true order
    statistics at the requested ranks."""
    from be_analytic_etl_spark.registry import QUERIES
    from be_analytic_etl_spark.queries.statistics import _TD_READ_Q

    sf_dir = "/root/testdata/sf0.001"
    rows = QUERIES["ext_tdigest_panel"](spark, sf_dir).collect()
    assert sum(r["n_q_owned"] for r in rows) == len(_TD_READ_Q) == 7
    import duckdb

    con = duckdb.connect()
    vals = con.execute(
        f"SELECT CAST(FLOOR(o_totalprice) AS BIGINT) FROM "
        f"'{sf_dir}/orders.parquet' ORDER BY 1"
    ).fetchall()
    s = [v[0] for v in vals]
    n = len(s)
    ranks = [max(1, (n * qm + 500_000) // 1_000_000) for qm in _TD_READ_Q]
    assert sum(r["rank_sum"] for r in rows) == sum(ranks)
    assert sum(r["exact_sum"] for r in rows) == sum(s[k - 1] for k in ranks)
    for r in rows:
        if r["n_q_owned"] == 0:
            assert r["err_max"] is None
            continue
        assert 0.0 <= r["err_max"] <= r["v_max"] - r["v_min"]


def test_zipf_slope_negative(spark):
    """Natural-ish token frequencies must fit a negative Zipf slope."""
    from be_analytic_etl_spark.queries.text import q_ext_zipf_fit

    out = q_ext_zipf_fit(spark, "/root/testdata/sf0.001").collect()[0]
    assert out["k"] >= 2
    assert out["zipf_slope"] < 0


def test_burstiness_vmr_identity(spark):
    """VMR must equal the brute-force variance/mean over per-doc counts
    (zeros included) for a spot-checked token."""
    from be_analytic_etl_spark.queries.text import q_ext_burstiness
    from be_analytic_etl_spark.queries._shared import _t
    from be_analytic_etl_spark.operators import textstats as T

    sf_dir = "/root/testdata/sf0.001"
    got = {r["token"]: r for r in q_ext_burstiness(spark, sf_dir).collect()}
    assert got
    token, row = sorted(got.items())[0]
    docs = _t(spark, sf_dir, "documents")
    counts = [
        r["c"]
        for r in docs.select(
            F.size(
                F.filter(
                    T.tokenize("text"), lambda t: t == F.lit(token)
                )
            ).alias("c")
        ).collect()
    ]
    n = len(counts)
    mean = sum(counts) / n
    var = sum((c - mean) ** 2 for c in counts) / n
    assert row["vmr"] == pytest.approx(var / mean, rel=1e-9)


def test_fertility_bpe_at_least_words(spark):
    """BPE-ish subword count can never be below the whitespace word
    count on space-separated text, so fertility >= 1 per language."""
    from be_analytic_etl_spark.queries.text import q_ext_token_fertility

    rows = q_ext_token_fertility(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        if r["fertility"] is not None:
            assert r["fertility"] >= 1.0
