"""Round-6 additions: DoReMi mixture weights, ordered funnel, span
corruption — semantic properties plus the plan shapes the 100 TB design
depends on."""

from __future__ import annotations

from pyspark.sql import functions as F

from be_analytic_etl_spark.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_doremi_weights_form_a_smoothed_distribution(spark):
    rows = QUERIES["ext_doremi_weights"](spark, SF_DIR).collect()
    k = len(rows)
    assert k >= 2
    # a (rounded) probability distribution: positive, sums to 1 within
    # k half-ulps of the 6dp rounding
    total = sum(r["weight"] for r in rows)
    assert abs(total - 1.0) <= k * 5e-7, total
    for r in rows:
        # uniform smoothing floors every domain at smooth/k
        assert r["weight"] >= 0.2 / k - 5e-7, r
        assert r["excess_loss"] >= 0.0
    # the worst (highest excess loss) source gets the largest weight
    worst = max(rows, key=lambda r: r["excess_loss"])
    assert worst["weight"] == max(r["weight"] for r in rows)


def test_doremi_plan_broadcasts_scalar_folds(spark):
    """After the per-source agg everything is |sources| rows: the min/z
    folds must broadcast, never shuffle-join."""
    plan = plan_of(QUERIES["ext_doremi_weights"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_markov_rows_are_probability_distributions(spark):
    rows = QUERIES["ext_markov_transitions"](spark, SF_DIR).collect()
    assert rows
    by_src = {}
    for r in rows:
        assert r["n_transitions"] >= 1
        assert 0.0 < r["prob"] <= 1.0
        by_src.setdefault(r["src_type"], []).append(r["prob"])
    # each source row of the matrix sums to exactly 1 (exact counts /
    # one division each; the sum of d_i/N reconstructs N/N)
    for src, probs in by_src.items():
        assert abs(sum(probs) - 1.0) < 1e-12, (src, sum(probs))


def test_markov_successor_pairing_is_order_deterministic(spark):
    """Same-timestamp events order by event_id, so the transition pairs
    are a pure function of the data, not of partitioning."""
    ev = spark.createDataFrame(
        [
            (10, "2024-01-01 10:00:00", "a", 1),
            (10, "2024-01-01 10:00:00", "b", 2),  # same ts: id breaks tie
            (10, "2024-01-01 11:00:00", "c", 3),
            (20, "2024-01-01 09:00:00", "b", 4),
        ],
        "user_id long, ts_s string, event_type string, event_id long",
    ).select(
        "user_id", F.to_timestamp("ts_s").alias("ts"), "event_type", "event_id"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    got = {
        (r["event_type"], r["nxt"])
        for r in ev.select(
            "event_type", F.lead("event_type").over(w).alias("nxt")
        ).collect()
        if r["nxt"] is not None
    }
    assert got == {("a", "b"), ("b", "c")}


def test_span_corruption_is_map_only_and_deterministic(spark):
    df = QUERIES["ext_span_corruption"](spark, SF_DIR)
    plan = plan_of(df)
    # pure map-side: no key shuffle anywhere (the loader's round-robin
    # spread of the single-row-group test parquet is the one allowed
    # Exchange — it carries no grouping semantics)
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    rows = df.collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_masked"] <= r["n_tokens"]
        assert r["n_spans"] <= r["n_tokens"] // 8 + 1
        assert abs(r["mask_ratio"] - r["n_masked"] / r["n_tokens"]) == 0.0
    # replay: same inputs -> bit-identical mask plan
    again = {r["doc_id"]: (r["n_spans"], r["n_masked"]) for r in df.collect()}
    assert again == {r["doc_id"]: (r["n_spans"], r["n_masked"]) for r in rows}


def test_ngram_novelty_first_doc_owns_its_grams(spark):
    rows = QUERIES["ext_ngram_novelty"](spark, SF_DIR).collect()
    assert rows
    by_doc = {r["doc_id"]: r for r in rows}
    # the earliest doc in the result can only see itself as "first":
    # everything it emits is novel by construction
    first = by_doc[min(by_doc)]
    assert first["n_novel"] == first["n_grams"]
    assert first["novelty_ratio"] == 1.0
    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_grams"]
        assert abs(r["novelty_ratio"] - r["n_novel"] / r["n_grams"]) == 0.0


def test_ngram_novelty_counts_distinct_grams_once(spark):
    """A gram repeated inside one doc contributes ONE row (array_distinct
    before the explode), and a shared gram belongs to the lower doc_id."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e a b c d e"),  # its 5-grams repeat internally
            (2, "a b c d e x y z w v"),  # shares 'a b c d e' with doc 1
        ],
        "doc_id long, text string",
    )
    from be_analytic_etl_spark.operators import textstats as T

    grams = F.expr(
        "transform(sequence(1, size(__t) - 4), "
        "i -> concat_ws(' ', slice(__t, i, 5)))"
    )
    g = (
        docs.select("doc_id", T.tokenize("text").alias("__t"))
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("g"))
    )
    per1 = g.filter(F.col("doc_id") == 1).count()
    assert per1 == 5  # 6 positions, 'a b c d e' appears twice -> 5 distinct
    shared = g.groupBy("g").agg(F.min("doc_id").alias("fd"))
    owner = {r["g"]: r["fd"] for r in shared.collect()}
    assert owner["a b c d e"] == 1


def test_ngram_novelty_shuffles_hashes_not_gram_strings(spark):
    """Both shuffles key on the 60-bit hash column: no gram string
    survives into an Exchange (8-byte shuffle payload at 100 TB)."""
    df = QUERIES["ext_ngram_novelty"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan, plan
    import re

    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "__g" not in keys, plan


def test_mixture_kl_is_nonnegative_and_bounded(spark):
    rows = QUERIES["ext_mixture_kl"](spark, SF_DIR).collect()
    assert rows
    n_total = sum(r["n_tokens"] for r in rows)
    for r in rows:
        # Gibbs: KL >= 0 up to the 6dp per-term quantization (vocab_size
        # half-ulps of slack)
        assert r["kl_bits"] >= -(r["vocab_size"] * 5e-7), r
        assert r["vocab_size"] <= r["n_tokens"]
        # KL(P_s || corpus) <= log2(N / n_s): p_s/p_c <= N/n_s pointwise
        import math

        assert r["kl_bits"] <= math.log2(n_total / r["n_tokens"]) + r[
            "vocab_size"
        ] * 5e-7, r


def test_mixture_kl_zero_when_source_is_the_corpus(tmp_path, spark):
    """A single-source corpus has p_source == p_corpus everywhere, so
    every log term is log2(1) = 0 and the KL is exactly zero."""
    one = spark.createDataFrame(
        [(1, "alpha beta beta gamma", "only"), (2, "beta alpha", "only")],
        "doc_id long, text string, source string",
    )
    d = str(tmp_path / "kl")
    one.coalesce(1).write.parquet(f"{d}/documents.parquet")
    from be_analytic_etl_spark.queries.text import q_ext_mixture_kl

    rows = q_ext_mixture_kl(spark, d).collect()
    assert len(rows) == 1
    assert rows[0]["kl_bits"] == 0.0
    assert rows[0]["n_tokens"] == 6
    assert rows[0]["vocab_size"] == 3


def test_k_anonymity_flags_small_classes_and_rejects_bad_input(spark):
    import pytest

    from be_analytic_etl_spark.operators.privacy import k_anonymity

    df = spark.createDataFrame(
        [
            ("US", "A", "x"),
            ("US", "A", "y"),
            ("US", "B", "x"),
        ],
        "nation string, seg string, sens string",
    )
    out = {
        (r["nation"], r["seg"]): r
        for r in k_anonymity(df, ["nation", "seg"], "sens", k=2).collect()
    }
    assert out[("US", "A")]["class_size"] == 2
    assert out[("US", "A")]["l_diversity"] == 2
    assert out[("US", "A")]["at_risk"] is False
    assert out[("US", "B")]["class_size"] == 1
    assert out[("US", "B")]["l_diversity"] == 1
    assert out[("US", "B")]["at_risk"] is True
    with pytest.raises(ValueError, match="quasi columns"):
        k_anonymity(df, ["nope"], "sens")
    with pytest.raises(ValueError, match="k must be"):
        k_anonymity(df, ["nation"], "sens", k=0)


def test_k_anonymity_query_covers_every_customer_exactly_once(spark):
    rows = QUERIES["ext_k_anonymity"](spark, SF_DIR).collect()
    assert rows
    total = sum(r["class_size"] for r in rows)
    n_cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
    assert total == n_cust
    for r in rows:
        assert 1 <= r["l_diversity"] <= min(3, r["class_size"])
        assert r["at_risk"] == (r["class_size"] < 10)


# ---------------------------------------------------------------------------
# Eval statistics (operators/evalstats.py)


def test_roc_auc_known_values(spark):
    from be_analytic_etl_spark.operators.evalstats import roc_auc

    # perfect separation -> 1.0; exact ties -> 0.5 (rank-sum tie credit)
    perfect = spark.createDataFrame(
        [(1, 1), (2, 1), (0, 0)], "score int, pos int"
    )
    r = roc_auc(perfect, "score", "pos").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (2, 1, 1.0)

    tied = spark.createDataFrame([(5, 1), (5, 0)], "score int, pos int")
    assert roc_auc(tied, "score", "pos").collect()[0]["auc"] == 0.5

    # one class absent -> NULL, never a divide-by-zero
    degen = spark.createDataFrame([(1, 1), (2, 1)], "score int, pos int")
    assert roc_auc(degen, "score", "pos").collect()[0]["auc"] is None

    # textbook mixed case: pos scores {3, 1}, neg scores {2, 1}:
    # pairs won 2.5 of 4 -> 0.625
    mixed = spark.createDataFrame(
        [(3, 1), (1, 1), (2, 0), (1, 0)], "score int, pos int"
    )
    assert roc_auc(mixed, "score", "pos").collect()[0]["auc"] == 0.625


def test_roc_auc_query_plan_and_range(spark):
    from be_analytic_etl_spark.registry import QUERIES

    df = QUERIES["ext_roc_auc"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan, plan
    assert "Join" not in plan, plan  # histogram + windows only, no join
    r = df.collect()[0]
    assert r["n_pos"] > 0 and r["n_neg"] > 0
    assert 0.0 <= r["auc"] <= 1.0


def test_poisson_weights_mean_one(spark):
    """Poisson(1) weights over many draws must average ~1 (the property
    that makes every bootstrap replicate an unbiased resample)."""
    from pyspark.sql import functions as F

    from be_analytic_etl_spark.operators.evalstats import (
        bootstrap_u,
        poisson1_weight,
    )

    n = 20000
    df = spark.range(n).select(
        F.col("id").alias("k"), F.lit(0).alias("rep")
    )
    w = poisson1_weight(bootstrap_u("k", "rep", "testsalt"))
    total = df.select(F.sum(w).alias("s")).collect()[0]["s"]
    assert abs(total / n - 1.0) < 0.03, total / n


def test_poisson_bootstrap_ci_semantics(spark):
    from be_analytic_etl_spark.operators.evalstats import poisson_bootstrap_ci

    # constant values: every replicate mean equals the constant, so the
    # interval must collapse onto it regardless of which rows each
    # replicate resamples
    from decimal import Decimal

    rows = [("g", i, Decimal("0.250000")) for i in range(50)]
    df = spark.createDataFrame(rows, "grp string, id long, v decimal(18,6)")
    r = poisson_bootstrap_ci(df, "grp", "id", "v", n_reps=8).collect()[0]
    assert r["n_reps"] == 8
    assert r["boot_lo"] == r["boot_hi"] == 0.25
    assert r["boot_mean"] == 0.25


def test_poisson_bootstrap_query_plan(spark):
    from be_analytic_etl_spark.registry import QUERIES

    df = QUERIES["ext_poisson_bootstrap"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["n_reps"] == 16
        assert r["boot_lo"] <= r["boot_hi"]


def test_poisson_bootstrap_rejects_reserved_column_names(spark):
    from decimal import Decimal

    import pytest as _pytest

    from be_analytic_etl_spark.operators.evalstats import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [("g", 1, Decimal("0.5"))], "rep string, id long, v decimal(18,6)"
    )
    with _pytest.raises(ValueError, match="rep"):
        poisson_bootstrap_ci(df, "rep", "id", "v")


def test_roc_auc_excludes_null_scores_identically(spark):
    """NULL scores are excluded on both sides (Spark windows order NULLS
    FIRST, DuckDB NULLS LAST — keeping them would diverge) and must not
    leak into the class counts."""
    from be_analytic_etl_spark.operators.evalstats import roc_auc

    rows = [(3, 1), (None, 1), (2, 0), (None, 0), (1, 0)]
    df = spark.createDataFrame(rows, "score int, pos int")
    r = roc_auc(df, "score", "pos").collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (1, 2)
    assert r["auc"] == 1.0


def test_poisson_bootstrap_guard_covers_internal_names(spark):
    from decimal import Decimal

    import pytest as _pytest

    from be_analytic_etl_spark.operators.evalstats import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [("g", 1, Decimal("0.5"))], "__v string, id long, x decimal(18,6)"
    )
    with _pytest.raises(ValueError, match="__v"):
        poisson_bootstrap_ci(df, "__v", "id", "x")


def test_markov_excludes_null_typed_events_on_both_sides(spark):
    """NULL event_type groups would be dropped by Spark's equi-join on
    src_type but kept by the oracle's window SUM — both sides must
    exclude untyped events before pairing (review find, round 6)."""
    import datetime

    rows = [
        ("u1", None, datetime.datetime(2024, 1, 1, 0, 0, 0), 1),
        ("u1", "click", datetime.datetime(2024, 1, 1, 0, 0, 1), 2),
        ("u1", "buy", datetime.datetime(2024, 1, 1, 0, 0, 2), 3),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, ts timestamp, event_id long"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        from be_analytic_etl_spark.registry import QUERIES

        got = {
            (r["src_type"], r["dst_type"]): r["n_transitions"]
            for r in QUERIES["ext_markov_transitions"](spark, d).collect()
        }
    # the NULL event neither sources a transition nor breaks click->buy
    assert got == {("click", "buy"): 1}
