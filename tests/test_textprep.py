"""Text-prep operators (normalize / line dedup / corpus shuffle /
temperature weights): semantic unit tests + the plan shapes that carry
the 100 TB story (map-only normalization and within-doc dedup, exactly
one keyed exchange for the corpus shuffle).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators import normalize as N
from be_analytic_etl_spark.queries.text import _CLEAN_FRAGMENT, _DIRTY_FRAGMENT
from be_analytic_etl_spark.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _no_keyed_shuffle(plan: str) -> bool:
    return "hashpartitioning" not in plan and "rangepartitioning" not in plan


# --- semantics ---------------------------------------------------------------


def test_normalize_text_repairs_everything(spark):
    messy = f"\t cafÃ©  {_DIRTY_FRAGMENT} \x07 x\x0b  y "
    row = (
        spark.range(1)
        .select(N.normalize_text(F.lit(messy)).alias("n"))
        .first()
    )
    assert row.n == f"café {_CLEAN_FRAGMENT} x y"


def test_normalize_text_null_and_blank(spark):
    df = spark.createDataFrame([(None,), ("   ",)], "t string")
    vals = [r.n for r in df.select(N.normalize_text("t").alias("n")).collect()]
    assert vals == ["", ""]


def test_line_dedup_keeps_first_occurrence_in_order(spark):
    df = spark.createDataFrame([(1, "a. b. a. c. b")], "doc_id long, text string")
    row = N.line_dedup_within_doc(df).first()
    assert row.rebuilt == "a. b. c"
    assert (row.n_parts, row.n_kept) == (5, 3)
    assert abs(row.kept_ratio - 0.6) < 1e-12


def test_line_dedup_separator_is_literal_not_regex(spark):
    # '.' must not act as regex any-char: 'xy' contains no '. ' separator.
    df = spark.createDataFrame([(1, "xy zw xy")], "doc_id long, text string")
    row = N.line_dedup_within_doc(df).first()
    assert row.n_parts == 1 and row.rebuilt == "xy zw xy"


def test_corpus_shuffle_is_a_permutation(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = N.corpus_shuffle(docs, n_shards=4, seed=7)
    n = docs.count()
    assert out.count() == n
    assert out.select("doc_id").distinct().count() == n
    # positions are dense 1..k within every shard
    per = out.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"), F.max("pos").alias("mx"), F.min("pos").alias("mn")
    )
    for r in per.collect():
        assert (r.mn, r.mx) == (1, r.n)


def test_corpus_shuffle_seed_changes_order(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    a = {(r.doc_id): (r.shard, r.pos) for r in N.corpus_shuffle(docs, seed=1).collect()}
    b = {(r.doc_id): (r.shard, r.pos) for r in N.corpus_shuffle(docs, seed=2).collect()}
    assert a != b


def test_temperature_weights_sum_to_one_and_flatten(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = N.temperature_weights(docs, alpha=0.5).collect()
    # weights are emitted rounded to 8 decimals (cross-engine float
    # policy): the sum can be off 1 by up to |domains| * 5e-9.
    assert abs(sum(r.weight for r in rows) - 1.0) < 5e-9 * max(len(rows), 2)
    # alpha<1 upsamples rare domains: smallest p gets weight > p
    lo = min(rows, key=lambda r: r.p)
    hi = max(rows, key=lambda r: r.p)
    assert lo.weight > lo.p and hi.weight < hi.p


# --- plan shapes -------------------------------------------------------------


def test_text_normalize_is_map_only(spark):
    plan = plan_of(QUERIES["ext_text_normalize"](spark, SF_DIR))
    assert _no_keyed_shuffle(plan), plan


def test_line_dedup_is_map_only(spark):
    plan = plan_of(QUERIES["ext_line_dedup"](spark, SF_DIR))
    assert _no_keyed_shuffle(plan), plan


def test_corpus_shuffle_single_exchange(spark):
    plan = plan_of(QUERIES["ext_corpus_shuffle"](spark, SF_DIR))
    assert plan.count("hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


# --- hashed linear classifier + variant ---------------------------------------


def test_quality_classifier_score_range_and_determinism(spark):
    df = QUERIES["ext_quality_classifier"](spark, SF_DIR)
    rows = df.collect()
    assert all(0.0 < r.score < 1.0 for r in rows)
    again = {r.doc_id: r.score for r in QUERIES["ext_quality_classifier"](spark, SF_DIR).collect()}
    assert all(again[r.doc_id] == r.score for r in rows)


def test_quality_classifier_is_map_only(spark):
    plan = plan_of(QUERIES["ext_quality_classifier"](spark, SF_DIR))
    assert _no_keyed_shuffle(plan), plan


def test_variant_extract_matches_get_json_object(spark):
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(500)
    both = ev.select(
        F.variant_get(F.try_parse_json("props"), "$.k", "bigint").alias("v"),
        F.get_json_object("props", "$.k").cast("bigint").alias("j"),
    )
    assert both.filter(~F.col("v").eqNullSafe(F.col("j"))).count() == 0


# --- isotonic (PAVA) ----------------------------------------------------------


def test_pava_reference_cases():
    from be_analytic_etl_spark.operators.regression import _pava

    assert _pava([1, 2, 3], [1, 1, 1]) == [1, 2, 3]
    assert _pava([3, 2, 1], [1, 1, 1]) == [2, 2, 2]
    assert _pava([1, 3, 2, 4], [1, 1, 1, 1]) == [1, 2.5, 2.5, 4]
    # weighted pooling: heavy second point dominates the pool mean
    assert _pava([4, 1], [1, 3]) == [1.75, 1.75]


def test_isotonic_trend_matches_pure_python(spark):
    from be_analytic_etl_spark.operators.regression import _pava

    df = QUERIES["ext_isotonic_trend"](spark, SF_DIR)
    rows = df.collect()
    # the query's own PAVA-vs-minimax cross-check must hold everywhere
    assert rows and all(r.agree for r in rows)
    by_group = {}
    for r in rows:
        by_group.setdefault(r.event_type, []).append((r.day, r.y, r.y_iso))
    assert len(by_group) >= 2
    for g, series in by_group.items():
        series.sort()
        ys = [y for _, y, _ in series]
        want = _pava(ys, [1.0] * len(ys))
        got = [yi for _, _, yi in series]
        assert got == pytest.approx(want, abs=1e-9), g
        # monotone nondecreasing
        assert all(b >= a - 1e-12 for a, b in zip(got, got[1:])), g


def test_isotonic_minimax_agrees_with_pava(spark):
    """The closed-form minimax identity and PAVA compute the same L2
    monotone fit (Robertson et al. 1988, Thm 1.4.4) — the native twin
    must agree with the applyInPandas production path to fp noise."""
    from decimal import Decimal

    from be_analytic_etl_spark.operators.regression import (
        isotonic_fit,
        isotonic_fit_minimax,
    )

    rows = [
        ("a", 1.0, "3.000000"), ("a", 2.0, "1.000000"), ("a", 3.0, "2.000000"),
        ("a", 4.0, "5.000000"), ("a", 5.0, "4.000000"),
        ("b", 1.0, "1.000000"), ("b", 2.0, "2.000000"),
    ]
    df = spark.createDataFrame(
        [(g, x, Decimal(y)) for g, x, y in rows],
        "g string, x double, y6 decimal(18,6)",
    )
    mm = {
        (r["g"], r["x"]): r["y_iso"]
        for r in isotonic_fit_minimax(df, "g", "x", "y6").collect()
    }
    pava = {
        (r["g"], r["x"]): r["y_iso"]
        for r in isotonic_fit(
            df.select("g", "x", F.col("y6").cast("double").alias("y")),
            "g", "x", "y",
        ).collect()
    }
    assert set(mm) == set(pava)
    for key in mm:
        assert abs(mm[key] - pava[key]) < 1e-9, (key, mm[key], pava[key])
    # the known fit: [3,1,2] pools to 2; [5,4] pools to 4.5
    assert mm[("a", 1.0)] == 2.0 and mm[("a", 3.0)] == 2.0
    assert mm[("a", 4.0)] == 4.5 and mm[("a", 5.0)] == 4.5
    assert mm[("b", 2.0)] == 2.0
