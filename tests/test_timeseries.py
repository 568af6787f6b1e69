"""Gap-fill edge cases: gaps synthesized + forward-filled, single-point
keys, observed flag."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from be_analytic_etl_spark.operators.timeseries import gapfill


def test_gapfill_densifies_and_ffills(spark):
    d = dt.datetime
    rows = [
        ("a", d(2024, 1, 1), 10.0),
        ("a", d(2024, 1, 4), 40.0),  # 2 missing days in between
        ("b", d(2024, 1, 2), 7.0),  # single point -> spine of 1
    ]
    df = spark.createDataFrame(rows, ["k", "day", "v"])
    out = gapfill(df, ["k"], "day", ["v"], step="1 day")
    got = {
        (r["k"], r["day"].day): (r["v"], r["is_observed"]) for r in out.collect()
    }
    assert got == {
        ("a", 1): (10.0, True),
        ("a", 2): (10.0, False),
        ("a", 3): (10.0, False),
        ("a", 4): (40.0, True),
        ("b", 2): (7.0, True),
    }


def test_gapfill_hourly_step(spark):
    d = dt.datetime
    df = spark.createDataFrame(
        [("a", d(2024, 1, 1, 0), 1.0), ("a", d(2024, 1, 1, 3), 2.0)],
        ["k", "ts", "v"],
    )
    out = gapfill(df, ["k"], "ts", ["v"], step="1 hour")
    assert out.count() == 4
    assert out.filter(~F.col("is_observed")).count() == 2


def test_ewma_last_matches_pandas_ewm(spark):
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from be_analytic_etl_spark.operators.timeseries import ewma_last

    rng = np.random.RandomState(3)
    rows = []
    for key in (1, 2):
        for i in range(50):
            rows.append((key, i, float(np.round(rng.uniform(0, 100), 2))))
    df = spark.createDataFrame(rows, "k long, seq long, x double")
    out = {r["k"]: r for r in ewma_last(df, "k", ["seq"], "x", alpha=0.25).collect()}
    pdf = pd.DataFrame(rows, columns=["k", "seq", "x"])
    for key, g in pdf.groupby("k"):
        # adjust=False is exactly s_1 = x_1; s_t = a*x_t + (1-a)*s_{t-1}
        expected = g.sort_values("seq")["x"].ewm(alpha=0.25, adjust=False).mean().iloc[-1]
        assert out[key]["n_events"] == len(g)
        assert out[key]["ewma"] == _pytest.approx(expected, rel=1e-12)


def test_ewma_single_event_and_bad_alpha(spark):
    import pytest as _pytest

    from be_analytic_etl_spark.operators.timeseries import ewma_last

    df = spark.createDataFrame([(1, 0, 42.5)], "k long, seq long, x double")
    row = ewma_last(df, "k", ["seq"], "x").collect()[0]
    assert (row["n_events"], row["ewma"]) == (1, 42.5)
    with _pytest.raises(ValueError):
        ewma_last(df, "k", ["seq"], "x", alpha=0.0)


def test_gapfill_clamp_bounds_neutralizes_drifted_timestamps(spark):
    """Timestamp-pathology guard: one epoch-zero
    and one far-future row would stretch their keys' sequence(min,max)
    spines by decades; with clamp_bounds the poisoned corpus yields
    exactly the clean corpus's rows."""
    d = dt.datetime
    clean = [
        ("a", d(2024, 1, 1), 10.0),
        ("a", d(2024, 1, 3), 30.0),
        ("b", d(2024, 1, 2), 7.0),
    ]
    poison = clean + [
        ("a", d(1970, 1, 1), 0.0),     # epoch-zero parser default
        ("b", d(2100, 1, 1), 99.0),    # far-future overflow
    ]
    cdf = spark.createDataFrame(clean, ["k", "day", "v"])
    pdf = spark.createDataFrame(poison, ["k", "day", "v"])
    window = (d(2024, 1, 1), d(2025, 1, 1))
    want = sorted(
        (r["k"], r["day"], r["v"], r["is_observed"])
        for r in gapfill(cdf, ["k"], "day", ["v"]).collect()
    )
    got = sorted(
        (r["k"], r["day"], r["v"], r["is_observed"])
        for r in gapfill(pdf, ["k"], "day", ["v"], clamp_bounds=window).collect()
    )
    assert got == want
    # and without the clamp the epoch-zero key really does explode:
    # key 'a' spans 1970-01-01..2024-01-03 -> ~19.7k synthesized days
    n_unclamped = gapfill(pdf, ["k"], "day", ["v"]).count()
    assert n_unclamped > 19_000
