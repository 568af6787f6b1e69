"""Round-13 queries (queries_round13.py): each matches its DuckDB
oracle at sf0.001, plus brute-force checks of the statistics."""

from __future__ import annotations

import math
from collections import defaultdict

import hashlib

# registry first (circular-import discipline)
from be_analytic_etl_spark import registry  # noqa: F401

SF_DIR = "/root/testdata/sf0.001"


def test_staged_candidates_match_their_oracles(spark, duck):
    from tests.conftest import assert_matches_oracle

    from be_analytic_etl_spark.queries_round13 import (
        binseg2_changepoint,
        binseg2_changepoint_oracle,
        fdr_bh_panel,
        fdr_bh_panel_oracle,
        two_proportion_panel,
        two_proportion_panel_oracle,
    )

    for fn, sql in [
        (two_proportion_panel, two_proportion_panel_oracle()),
        (binseg2_changepoint, binseg2_changepoint_oracle()),
        (fdr_bh_panel, fdr_bh_panel_oracle()),
    ]:
        assert_matches_oracle(fn(spark, SF_DIR), duck, sql)


def test_two_proportion_matches_python_fold(spark):
    """Exact day-0-conversion counts + the z formula recomputed from
    raw rows with the same portable hash bucketing."""
    from be_analytic_etl_spark.queries_round13 import (
        two_proportion_panel,
    )
    from be_analytic_etl_spark.sources import load_table

    rows = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_type")
        .collect()
    )
    first_day: dict[int, object] = {}
    users = set()
    for r in rows:
        if r.user_id is None:
            continue
        users.add(r.user_id)
        if r.ts is not None:
            day = r.ts.date()
            if r.user_id not in first_day or day < first_day[r.user_id]:
                first_day[r.user_id] = day
    conv: dict[int, int] = defaultdict(int)
    for r in rows:
        if r.user_id is None or r.ts is None:
            continue
        if (
            r.event_type == "purchase"
            and r.ts.date() == first_day.get(r.user_id)
        ):
            conv[r.user_id] = 1
    counts = {0: [0, 0], 1: [0, 0]}
    for uid in users:
        h = int(hashlib.md5(f"{uid}|ab".encode()).hexdigest()[:15], 16)
        v = (h % 10000) % 2
        counts[v][0] += 1
        counts[v][1] += conv.get(uid, 0)
    (n_a, x_a), (n_b, x_b) = counts[0], counts[1]

    (row,) = two_proportion_panel(spark, SF_DIR).collect()
    assert (row.n_a, row.x_a, row.n_b, row.x_b) == (n_a, x_a, n_b, x_b)
    pa, pb = x_a / n_a, x_b / n_b
    pp = (x_a + x_b) / (n_a + n_b)
    se2 = pp * (1 - pp) * (1 / n_a + 1 / n_b)
    if se2 > 0:
        z = (pa - pb) / math.sqrt(se2)
        assert float(row.z_stat) == round(z, 6)
        assert 0.0 < pa < 1.0 or 0.0 < pb < 1.0  # non-degenerate rate
    else:
        assert row.z_stat is None


def test_binseg2_beats_or_ties_single_split(spark):
    """Adding a second changepoint can only explain MORE variance than
    the registered single-split query's best (nested models)."""
    from be_analytic_etl_spark.queries_round13 import (
        binseg2_changepoint,
    )
    from be_analytic_etl_spark.registry import QUERIES

    (two,) = binseg2_changepoint(spark, SF_DIR).collect()
    (one,) = QUERIES["ext_binseg_changepoint"](spark, SF_DIR).collect()
    assert two.n_seg1 > 0 and two.n_seg2 > 0 and two.n_seg3 > 0
    assert two.split_day_1 < two.split_day_2
    assert float(two.var_explained) >= float(one.var_explained) - 1e-12


def test_binseg2_matches_exhaustive_python(spark):
    """Exhaustive (t1, t2) search over the exact daily-cents series."""
    import duckdb

    from be_analytic_etl_spark.queries_round13 import (
        binseg2_changepoint,
    )

    daily = duckdb.sql(f"""
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS c
        FROM read_parquet('{SF_DIR}/events.parquet')
        WHERE ts IS NOT NULL AND value IS NOT NULL
        GROUP BY 1 ORDER BY 1
    """).fetchall()
    cs = [c for _, c in daily]
    n = len(cs)
    tot = sum(cs)
    q = sum(c * c for c in cs)
    sse = q - tot * tot / n
    best = None
    for i in range(1, n - 1):
        for j in range(i + 1, n):
            s1 = sum(cs[:i])
            s2 = sum(cs[i:j])
            s3 = tot - s1 - s2
            gain = (
                s1 * s1 / i
                + s2 * s2 / (j - i)
                + s3 * s3 / (n - j)
                - tot * tot / n
            )
            score = gain / sse if sse > 0 else None
            key = (round(score, 12), daily[i - 1][0], daily[j - 1][0])
            if best is None or round(score, 12) > best[0]:
                best = key
    (row,) = binseg2_changepoint(spark, SF_DIR).collect()
    assert (row.split_day_1, row.split_day_2) == (best[1], best[2])
    assert float(row.var_explained) == best[0]


def test_fdr_bh_matches_python_stepup(spark):
    """The BH step-up recomputed from the panel's own (already oracle-
    checked) p-values: sort, threshold (i/m)q, reject ranks <= k."""
    from be_analytic_etl_spark.queries_round13 import fdr_bh_panel

    rows = fdr_bh_panel(spark, SF_DIR).collect()
    ps = sorted(
        (float(r.p_two), r.source) for r in rows if r.p_two is not None
    )
    m = len(ps)
    assert all(r.m_tests == m for r in rows)
    k = 0
    for i, (p, _) in enumerate(ps, 1):
        if p <= i * 100 / (m * 1000):
            k = i
    want_reject = {src for i, (p, src) in enumerate(ps, 1) if i <= k}
    got_reject = {r.source for r in rows if r.reject}
    assert got_reject == want_reject
    # p-values are valid probabilities and monotone with |z|
    byz = sorted(
        (abs(float(r.z_stat)), float(r.p_two))
        for r in rows
        if r.z_stat is not None
    )
    assert all(0.0 <= p <= 1.0 for _, p in byz)
    assert all(
        p1 >= p2 - 1e-12
        for (_, p1), (_, p2) in zip(byz, byz[1:])
    )


def test_fdr_p_approximation_accuracy(spark):
    """The shared A&S 26.2.17 expression, evaluated by Spark on a grid
    of z values, stays within the published 7.5e-8 of the exact normal
    p (math.erfc reference)."""
    from pyspark.sql import functions as F

    from be_analytic_etl_spark.queries_round13 import (
        P_TWO_SIDED_EXPR,
    )

    zs = [0.0, 0.1, 0.5, 1.0, 1.5, 1.96, 2.5, 3.0, 4.0, 5.0]
    df = spark.createDataFrame([(z,) for z in zs], "az double").select(
        "az", F.expr(P_TWO_SIDED_EXPR).alias("p")
    )
    got = {r.az: r.p for r in df.collect()}
    for z in zs:
        exact = math.erfc(z / math.sqrt(2.0))
        assert abs(got[z] - exact) < 2e-7, (z, got[z], exact)

