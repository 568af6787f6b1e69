"""The (user, day) sub-key sessionize spine must be row-for-row
identical to the plain per-user window form — on the clean corpus, on a
90%-whale corpus, and on adversarial midnight-straddling fixtures
(VERDICT r11 ask #5: 'hashes unchanged on clean corpora')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _assert_twin(ev):
    from be_analytic_etl_spark.operators.sessions import sessionize_events

    plain = _rows(sessionize_events(ev, spine=None))
    salted = _rows(sessionize_events(ev, spine="day"))
    assert salted == plain and len(plain) > 0
    return plain


def test_spine_matches_plain_on_clean_corpus(spark):
    from be_analytic_etl_spark.sources import load_table

    _assert_twin(load_table(spark, SF_DIR, "events"))


def test_spine_matches_registered_query(spark):
    """sessionize_events(spine=None) IS the registered query's logic —
    pin the three shared columns so the operator can never drift from
    the driver-proven readout."""
    from be_analytic_etl_spark.operators.sessions import sessionize_events
    from be_analytic_etl_spark.registry import QUERIES
    from be_analytic_etl_spark.sources import load_table

    got = _rows(sessionize_events(load_table(spark, SF_DIR, "events")))
    want = _rows(QUERIES["sessionize"](spark, SF_DIR))
    assert got == want


def test_spine_matches_plain_on_whale_corpus(spark):
    """90% of events collapsed onto one user (a whale-skew corpus)."""
    from be_analytic_etl_spark.sources import load_table

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "user_id",
        F.when(F.pmod(F.col("event_id"), F.lit(10)) < 9, F.lit(1)).otherwise(
            F.col("user_id")
        ),
    )
    _assert_twin(ev)


@pytest.mark.parametrize(
    "case",
    [
        # midnight straddle inside one session (21 min gap)
        [(1, "2024-03-01 23:50:00"), (1, "2024-03-02 00:11:00")],
        # midnight straddle breaking a session (40 min gap)
        [(1, "2024-03-01 23:50:00"), (1, "2024-03-02 00:30:00")],
        # a user active on 3 days with an empty middle day
        [(1, "2024-03-01 10:00:00"), (1, "2024-03-03 10:00:00"),
         (1, "2024-03-03 10:10:00")],
        # NULL timestamps (each its own session, ordered first)
        [(1, None), (1, None), (1, "2024-03-01 09:00:00")],
        # tie timestamps within a day (event_id breaks the tie)
        [(2, "2024-03-05 12:00:00"), (2, "2024-03-05 12:00:00"),
         (2, "2024-03-05 12:40:00")],
    ],
)
def test_spine_boundary_fixtures(spark, case):
    rows = [
        (i, ts, uid, "click", 1.0, None)
        for i, (uid, ts) in enumerate(case)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    _assert_twin(ev)
