"""Round-5 operators: plan-shape + semantic unit tests.

Covers dedup survivorship, mixture sampling, containment pairs, quality
binning, rolling median, and per-key sampling — the properties that must
hold at 100 TB (broadcast plans, no cartesian joins, map-only filters,
bounded window state), plus value semantics the oracle gate can't isolate
(cap behavior, determinism under re-partitioning).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators import dedup as D
from be_analytic_etl_spark.operators import sampling as SA
from be_analytic_etl_spark.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- plan shapes -----------------------------------------------------------


def test_containment_is_hash_join_not_cartesian(spark):
    plan = plan_of(QUERIES["ext_containment"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_mixture_sample_plan_is_broadcast(spark):
    """The k-row mixture plan must broadcast onto the fact side — the fact
    table is filtered map-only, never shuffled on the group key."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    kept = SA.mixture_sample(
        docs, "lang", {"en": 0.6, "de": 0.4}, "n_chars", 0.5, key_col="doc_id"
    )
    plan = plan_of(kept)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_survivorship_single_shuffle(spark):
    """Rank + group size share one window partitioning: exactly one
    exchange (hash on the group key) in the whole plan."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.md5("text").alias("fp"), F.col("n_chars").cast("double").alias("q")
    )
    out = D.dedup_survivors(docs, ["fp"], "q")
    plan = plan_of(out)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_new_ops_stay_jvm_side(spark):
    for name in (
        "ext_dup_survivorship",
        "ext_mixture_sample",
        "ext_quality_bins",
        "ext_rolling_median",
        "ext_per_key_sample",
    ):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, (name, plan)
        assert "ArrowEvalPython" not in plan, (name, plan)


# --- semantics -------------------------------------------------------------


def test_survivorship_picks_best_quality_min_id(spark):
    rows = [
        (1, "g1", 0.5),
        (2, "g1", 0.9),
        (3, "g1", 0.9),  # ties with 2 -> min id wins
        (4, "g2", 0.1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, fp string, q double")
    out = {
        r["doc_id"]: r["group_size"]
        for r in D.dedup_survivors(df, ["fp"], "q").collect()
    }
    assert out == {2: 3, 4: 1}


def test_mixture_plan_caps_fraction_at_one(spark):
    """A group whose allotment exceeds its size is kept whole (frac == 1),
    and the shortfall is not redistributed."""
    rows = [("a", i, 100) for i in range(10)] + [("b", 100 + i, 100) for i in range(90)]
    df = spark.createDataFrame(rows, "g string, id long, cost long")
    plan = {
        r["g"]: r
        for r in SA.mixture_plan(df, "g", {"a": 0.9, "b": 0.1}, "cost", 0.5).collect()
    }
    # a: budget share = 0.5*10000*0.9 = 4500 chars vs 1000 present -> capped
    assert plan["a"]["target_frac"] == 1.0
    assert plan["a"]["threshold"] == SA.SPLIT_BUCKETS
    # b: 0.5*10000*0.1 = 500 of 9000 -> 500/9000
    assert abs(plan["b"]["target_frac"] - 500.0 / 9000.0) < 1e-12


def test_mixture_sample_deterministic_under_repartition(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    kw = dict(
        group_col="lang",
        weights={"en": 0.5, "de": 0.5},
        cost_col="n_chars",
        budget_fraction=0.3,
        key_col="doc_id",
    )
    a = sorted(r["doc_id"] for r in SA.mixture_sample(docs, **kw).collect())
    b = sorted(
        r["doc_id"] for r in SA.mixture_sample(docs.repartition(13), **kw).collect()
    )
    assert a == b and len(a) > 0


def test_containment_catches_subdocument_pair(spark):
    """A short doc fully contained in a long one: containment fires even
    though Jaccard is far below any useful threshold."""
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"tok{i} filler{i} pad{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short, "en"), (2, long, "en")], "doc_id long, text string, lang string"
    )
    pairs = D.ngram_containment_pairs(df, block_cols=["lang"], threshold=0.8).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert p["cont_a_in_b"] == 1.0  # every shingle of the short doc is shared
    assert p["cont_b_in_a"] < 0.2
    jac = D.ngram_jaccard_pairs(
        df, block_cols=["lang"], threshold=0.5
    ).collect()
    assert jac == []  # symmetric jaccard misses it


def test_containment_requires_positive_threshold(spark):
    df = spark.createDataFrame([(1, "a b c", "en")], "doc_id long, text string, lang string")
    with pytest.raises(ValueError):
        D.ngram_containment_pairs(df, threshold=0.0)


def test_rolling_median_window_is_bounded(spark):
    """The collect_list frame is ROWS-bounded: first rows of a partition
    see fewer elements, steady state sees exactly 7."""
    rows = [(1, i, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double").select(
        "user_id", "event_id", F.col("event_id").cast("timestamp").alias("ts"), "value"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    out = df.select(
        "event_id", F.size(F.collect_list("value").over(w)).alias("n")
    ).collect()
    ns = {r["event_id"]: r["n"] for r in out}
    assert ns[0] == 1 and ns[5] == 6 and ns[9] == 7


def test_per_key_sample_is_stable_and_capped(spark):
    q = QUERIES["ext_per_key_sample"]
    a = sorted((r["user_id"], r["event_id"]) for r in q(spark, SF_DIR).collect())
    b = sorted((r["user_id"], r["event_id"]) for r in q(spark, SF_DIR).collect())
    assert a == b
    from collections import Counter

    per_user = Counter(u for u, _ in a)
    assert max(per_user.values()) <= 3


# --- batch 2: lm scoring, semdedup, PQ ANN ---------------------------------


def test_lm_score_boilerplate_scores_higher(spark):
    """Repeated bigrams -> high P(w2|w1) -> higher avg_logp (lower
    perplexity) than a one-off token sequence."""
    from be_analytic_etl_spark.operators.textstats import bigram_lm_doc_score

    rows = [(i, "click here to accept cookies") for i in range(20)]
    rows.append((99, "zqx wvu tsr qpo nml"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_doc_score(df).collect()}
    assert out[0]["avg_logp"] > out[99]["avg_logp"]
    assert out[0]["perplexity"] < out[99]["perplexity"]
    assert out[99]["n_bigrams"] == 4


def test_lm_score_skips_sub_bigram_docs(spark):
    from be_analytic_etl_spark.operators.textstats import bigram_lm_doc_score

    df = spark.createDataFrame(
        [(1, "one two three"), (2, "single"), (3, "")],
        "doc_id long, text string",
    )
    ids = {r["doc_id"] for r in bigram_lm_doc_score(df).collect()}
    assert ids == {1}


def test_lm_score_against_reference_corpus(spark):
    """lm_df scores docs under ANOTHER corpus's model: bigrams unseen in
    the reference take the smoothed floor, not a crash."""
    from be_analytic_etl_spark.operators.textstats import bigram_lm_doc_score

    ref = spark.createDataFrame([(1, "the cat sat")] * 5, "doc_id long, text string")
    docs = spark.createDataFrame([(7, "dog ran far")], "doc_id long, text string")
    out = bigram_lm_doc_score(docs, lm_df=ref).collect()
    assert len(out) == 1 and out[0]["avg_logp"] < 0


def test_semdedup_survivor_invariants(spark):
    from be_analytic_etl_spark.registry import QUERIES

    rows = QUERIES["ext_semdedup"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["group_id"] <= r["vec_id"]
        assert r["is_survivor"] == (r["vec_id"] == r["group_id"])
    groups = {r["group_id"] for r in rows}
    survivors = {r["vec_id"] for r in rows if r["is_survivor"]}
    assert survivors == groups  # exactly one survivor per group


def test_pq_ann_finds_exact_duplicate_at_distance_zero(spark):
    from be_analytic_etl_spark.operators.similarity import pq_ann

    import random

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(10)]
    base.append(list(base[3]))  # vec 10 duplicates vec 3
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(3, base[3])], "query_id long, query_vec array<double>"
    )
    out = pq_ann(emb, queries, m=4, n_codes=8, k=3).collect()
    top = min(out, key=lambda r: r["rank"])
    assert top["neighbor_id"] == 10
    assert top["approx_dist"] == 0.0  # same codes as the query


def test_pq_ann_plan_broadcast_scan_no_shuffle_before_topk(spark):
    """Encode is map-only and the scan joins a broadcast query table: the
    only hash exchange in the plan is the final per-query top-k window."""
    from be_analytic_etl_spark.registry import QUERIES

    plan = plan_of(QUERIES["ext_pq_ann"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_blocked_not_cartesian(spark):
    from be_analytic_etl_spark.registry import QUERIES

    plan = plan_of(QUERIES["ext_semdedup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_window_dedup_flags_shared_boilerplate(spark):
    """Two docs sharing an 8-token boilerplate prefix: those spans are
    duplicated; unique tails are not."""
    boiler = "all rights reserved copyright notice terms of service"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique alpha beta gamma delta epsilon zeta eta"),
            (2, boiler + " other words entirely different from the first"),
            (3, "completely unrelated text with eight distinct tokens here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.window_dedup_stats(docs, window=8, stride=4).collect()
    }
    assert out[1]["n_dup_spans"] >= 1 and out[2]["n_dup_spans"] >= 1
    assert out[3]["n_dup_spans"] == 0
    assert 0 < out[1]["dup_ratio"] < 1


def test_window_dedup_excludes_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "too short"), (2, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    rows = D.window_dedup_stats(docs, window=8, stride=4).collect()
    assert {r["doc_id"] for r in rows} == {2}
    assert rows[0]["n_spans"] == 1


def test_frequent_pairs_expands_map_side_no_self_join(spark):
    """Pairs expand map-side from each basket's sorted item array (one
    collect_set shuffle + a Generate), never via a per-basket self-join;
    the lift lookups broadcast. See SCALE.md round-6 plan fixes."""
    from be_analytic_etl_spark.registry import QUERIES

    df = QUERIES["ext_frequent_pairs"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Generate explode" in plan, plan
    rows = df.collect()
    for r in rows:
        assert r["part_a"] < r["part_b"]
        assert r["n_baskets"] >= 2
        assert r["lift"] > 0


def test_mad_outliers_fence_resists_a_wild_value(spark):
    """One 1e9 outlier must be flagged without dragging the fence — the
    property that breaks mean/stddev z-scores."""
    rows = [("a", float(i % 10)) for i in range(100)] + [("a", 1e9)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    from pyspark.sql import functions as F2

    med = df.groupBy("event_type").agg(F2.expr("percentile(value, 0.5)").alias("med"))
    r = med.collect()[0]
    assert r["med"] < 10  # median untouched by the wild value


def test_pack_sequences_invariants(spark):
    """Concat-and-chunk packing: segments tile each document exactly,
    and every example except each bucket's last is exactly seq_len."""
    from collections import defaultdict

    from be_analytic_etl_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from be_analytic_etl_spark.operators.textstats import token_count

    sized = docs.select("doc_id", token_count("text").alias("n_tokens"))
    L = 64
    rows = pack_sequences(sized, seq_len=L, n_buckets=4).collect()
    truth = {r["doc_id"]: r["n_tokens"] for r in sized.collect() if r["n_tokens"] > 0}

    per_doc = defaultdict(int)
    per_ex = defaultdict(int)
    max_ex = {}
    for r in rows:
        assert 0 < r["n_seg_tokens"] <= L
        assert 0 <= r["example_offset"] < L
        assert r["example_offset"] + r["n_seg_tokens"] <= L
        per_doc[r["doc_id"]] += r["n_seg_tokens"]
        k = (r["bucket"], r["example_idx"])
        per_ex[k] += r["n_seg_tokens"]
        b = r["bucket"]
        max_ex[b] = max(max_ex.get(b, -1), r["example_idx"])
    assert per_doc == truth, "segments must tile each document exactly"
    for (b, ex), tot in per_ex.items():
        if ex < max_ex[b]:
            assert tot == L, f"non-tail example ({b},{ex}) has {tot} tokens"
        else:
            assert tot <= L


def test_pack_sequences_deterministic_and_excludes_empty(spark):
    from be_analytic_etl_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, 130)], "doc_id long, n_tokens int"
    )
    a = sorted(map(tuple, pack_sequences(df, seq_len=64).collect()))
    b = sorted(map(tuple, pack_sequences(df, seq_len=64).collect()))
    assert a == b
    ids = {t[0] for t in a}
    assert 2 not in ids, "zero-token docs occupy no stream positions"
    # doc 3 (130 tokens) must split across >= 3 example segments
    assert sum(1 for t in a if t[0] == 3) >= 3


def test_bm25_matches_python_reference(spark):
    """BM25 against a from-scratch python computation on a tiny corpus."""
    import math

    from be_analytic_etl_spark.operators.textstats import bm25_topk

    corpus = {
        1: "data model data training",
        2: "data pipeline",
        3: "model serving layer",
        4: "totally unrelated words here",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    terms = ["data", "model"]
    out = {r["doc_id"]: r for r in bm25_topk(df, terms, k=10).collect()}

    # python reference (k1=1.2, b=0.75), per-term scores quantized to 6dp
    N = len(corpus)
    toks = {d: t.split() for d, t in corpus.items()}
    dls = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dls.values()) / N
    dfreq = {t: sum(1 for d in toks if t in toks[d]) for t in terms}
    expect = {}
    for d in toks:
        s, nt = 0, 0
        for t in terms:
            tf = toks[d].count(t)
            if tf == 0:
                continue
            nt += 1
            idf = math.log(1.0 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            ts = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dls[d] / avgdl))
            s += round(ts, 6)
        if nt:
            expect[d] = (nt, round(s, 6))
    assert set(out) == set(expect)
    for d, (nt, s) in expect.items():
        assert out[d]["n_terms_matched"] == nt
        assert out[d]["score"] == pytest.approx(s, abs=2e-6)
    # doc 4 matches nothing and must be absent; rank order by score desc
    ranked = sorted(out.values(), key=lambda r: r["rank"])
    scores = [r["score"] for r in ranked]
    assert scores == sorted(scores, reverse=True)


def test_bm25_topk_is_take_ordered_not_global_sort(spark):
    from be_analytic_etl_spark.registry import QUERIES
    from tests.test_plans import plan_of

    plan = plan_of(QUERIES["ext_bm25_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_bm25_rejects_empty_terms(spark):
    from be_analytic_etl_spark.operators.textstats import bm25_topk

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        bm25_topk(df, [])


def test_rrf_fuse_semantics(spark):
    """A doc in both lists outranks docs in one; absent list contributes
    0; fused_rank is dense by score desc then id."""
    from be_analytic_etl_spark.operators.similarity import rrf_fuse

    kw = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank int"
    )
    dense = spark.createDataFrame(
        [(20, 1), (40, 2)], "doc_id long, rank int"
    )
    out = rrf_fuse(
        [kw, dense], id_col="doc_id", out_names=["kw_rank", "dense_rank"], k=60
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert set(by_id) == {10, 20, 30, 40}
    # doc 20: both lists
    assert by_id[20]["kw_rank"] == 2 and by_id[20]["dense_rank"] == 1
    assert by_id[20]["rrf_score"] == 1.0 / 62.0 + 1.0 / 61.0
    # doc 10: keyword only, dense contributes 0
    assert by_id[10]["dense_rank"] is None
    assert by_id[10]["rrf_score"] == 1.0 / 61.0
    # fused order: 20 (both) first, then 10, 40, 30
    ranks = {r["doc_id"]: r["fused_rank"] for r in out}
    assert [i for i, _ in sorted(ranks.items(), key=lambda kv: kv[1])] == [
        20, 10, 40, 30,
    ]


def test_token_budget_sample_boundary_and_plan(spark):
    """Selection stops once prior cost reaches the budget (boundary row
    may overshoot); rank + prefix sum share ONE Exchange."""
    from be_analytic_etl_spark.operators.sampling import token_budget_sample

    rows = [
        ("a", 1, 9, 400), ("a", 2, 8, 400), ("a", 3, 7, 400),
        ("b", 4, 9, 1000), ("b", 5, 8, 50),
    ]
    df = spark.createDataFrame(
        rows, "grp string, id long, score int, cost long"
    )
    out = token_budget_sample(
        df, group_col="grp", rank_col="score", cost_col="cost",
        id_col="id", budget=600,
    )
    got = {(r["grp"], r["id"]): (r["sel_rank"], r["cum_cost"]) for r in out.collect()}
    # a: 400 kept (prior 0), 400 kept (prior 400 < 600, cum 800), third dropped
    assert got == {("a", 1): (1, 400), ("a", 2): (2, 800), ("b", 4): (1, 1000)}
    # rank + prefix sum share the (partition, order) spec -> ONE Window
    # node and ONE shuffle on grp. AQE's toString prints the initial
    # plan too — count inside the final plan only.
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1
    assert final.count("Window") == 1

    import pytest
    with pytest.raises(ValueError):
        token_budget_sample(
            df, group_col="grp", rank_col="score", cost_col="cost",
            id_col="id", budget=0,
        )


def test_dsir_weights_prefer_target_like_docs(spark):
    """Docs sharing the target domain's bigrams get higher llr than
    out-of-domain docs; sub-2-token docs are excluded."""
    from be_analytic_etl_spark.operators.textstats import dsir_llr_weights

    corpus = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat quietly"),
            (3, "import numpy as np"),
            (4, "x"),
        ],
        "doc_id long, text string",
    )
    target = corpus.filter("doc_id = 1")
    w = dsir_llr_weights(corpus, target, n_buckets=64, alpha=0.5)
    rows = {r["doc_id"]: r for r in w.collect()}
    assert 4 not in rows  # single token -> no bigrams
    assert float(rows[1]["llr_dec"]) > float(rows[3]["llr_dec"])
    assert float(rows[2]["llr_dec"]) > float(rows[3]["llr_dec"])
    assert rows[1]["n_bigrams"] == 5

    import pytest
    with pytest.raises(ValueError):
        dsir_llr_weights(corpus, target, n_buckets=0)


def test_zorder_prunes_both_dimensions(spark):
    """On a uniform 2-D grid, z-order bucket spans let a range probe on
    EITHER dimension prune most buckets; an x-only sort cannot prune on
    y at all. This is the whole point of the layout."""
    from be_analytic_etl_spark.operators.layout import zorder_skipping_stats
    from be_analytic_etl_spark.operators.profiling import zorder_key

    rows = [(x, y, x * 64 + y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long, id long")
    zb = {
        r["bucket"]: r
        for r in zorder_skipping_stats(
            df, "x", "y", "id", n_buckets=16, bits=6
        ).collect()
    }
    # probe: y in [0, 15] (a quarter of the domain)
    z_touched = sum(
        1 for r in zb.values() if r["min_y"] <= 15 and r["max_y"] >= 0
    )
    # x-sorted layout: every bucket holds all y values -> nothing prunes
    from pyspark.sql import Window

    w = Window.orderBy("x", "id")
    xb = (
        df.withColumn("bucket", F.ntile(16).over(w))
        .groupBy("bucket")
        .agg(F.min("y").alias("min_y"), F.max("y").alias("max_y"))
        .collect()
    )
    x_touched = sum(1 for r in xb if r["min_y"] <= 15 and r["max_y"] >= 0)
    assert x_touched == 16  # x-sort: every bucket touched
    assert z_touched <= 8  # z-order: the probe prunes at least half
    # z-values are the exact Morton interleave
    got = (
        df.select(zorder_key("x", "y", bits=6).alias("z"), "x", "y")
        .filter((F.col("x") == 3) & (F.col("y") == 5))
        .collect()[0]["z"]
    )

    def morton(x, y):
        out = 0
        for i in range(6):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    assert got == morton(3, 5) == 39


def test_round5_operator_input_validation(spark):
    """Review-pinned guards: rrf_fuse rejects empty/mismatched inputs,
    pagerank rejects iters < 1 (the eager-checkpoint invariant needs at
    least one round)."""
    from be_analytic_etl_spark.operators.graph import pagerank
    from be_analytic_etl_spark.operators.similarity import rrf_fuse

    df = spark.createDataFrame([(1, 1)], "doc_id long, rank int")
    with pytest.raises(ValueError):
        rrf_fuse([])
    with pytest.raises(ValueError):
        rrf_fuse([df, df], out_names=["only_one"])
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(edges, iters=0)


def test_topk_per_group_exact_and_salt_invariant(spark):
    """Two-phase top-k equals the single-window top-k for any salt_n
    (exactness), including at the k boundary with ties."""
    from be_analytic_etl_spark.operators.sampling import topk_per_group

    rows = [("g", i, float(100 - (i % 10))) for i in range(50)]
    rows += [("h", 100 + i, float(i)) for i in range(12)]  # second group
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    want = [
        (r["grp"], r["id"], r["rank"])
        for r in topk_per_group(df, ["grp"], "v", "id", k=7, salt_n=1).collect()
    ]
    for sn in (2, 8, 32):
        got = [
            (r["grp"], r["id"], r["rank"])
            for r in topk_per_group(
                df, ["grp"], "v", "id", k=7, salt_n=sn
            ).collect()
        ]
        assert sorted(got) == sorted(want), sn
    # ties at the boundary: v repeats every 10 ids; rank ties break by id
    by_rank = {r for _, i, r in want}
    assert by_rank == set(range(1, 8))

    with pytest.raises(ValueError):
        topk_per_group(df, ["grp"], "v", "id", k=0)


# --- batch 3: diversity, PMI, embedding-eval probes -------------------------


def test_distinct_ngrams_detects_templated_text(spark):
    """A fully-templated source scores near the minimum distinct ratio;
    an all-unique source scores 1.0."""
    from be_analytic_etl_spark.registry import QUERIES
    import tempfile, os

    tmpl = [(i, "the quick brown fox jumps", "en", "tpl", 25) for i in range(10)]
    uniq = [
        (100 + i, " ".join(f"w{i}x{j}" for j in range(5)), "en", "unq", 25)
        for i in range(10)
    ]
    df = spark.createDataFrame(
        tmpl + uniq, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {r["source"]: r for r in QUERIES["ext_distinct_ngrams"](spark, d).collect()}
    assert out["unq"]["distinct_ratio"] == 1.0
    # 10 copies of one doc: 3 distinct trigrams over 30 total
    assert out["tpl"]["n_distinct"] == 3 and out["tpl"]["n_ngrams"] == 30
    assert out["tpl"]["distinct_ratio"] == 0.1


def test_pmi_respects_min_count_and_takeordered(spark):
    """Bigrams under the support floor never appear, and the top-k is
    TakeOrdered with no mandatory vocabulary broadcast."""
    from be_analytic_etl_spark.registry import QUERIES

    df = QUERIES["ext_pmi_collocations"](spark, SF_DIR)
    rows = df.collect()
    assert 0 < len(rows) <= 20
    assert all(r["c_ab"] >= 5 for r in rows)
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True) or len(set(pmis)) < len(pmis)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_matryoshka_emits_recall_zero_rows(spark):
    """A query with zero full/truncated overlap still emits its row —
    dropping it would overstate truncation quality (review finding)."""
    from be_analytic_etl_spark.operators import similarity as S
    from pyspark.sql import functions as F

    # 2-d corpus, truncate to dim0. Query [1,1]: the full cosine winner
    # has a NEGATIVE dim0 (so its 1-d cosine is -1) while the 1-d winner
    # has a positive dim0 but a lower full cosine — the two top-1 sets
    # are disjoint by construction.
    rows = [
        (0, [1.0, 1.0]),     # query
        (1, [-1.0, 100.0]),  # full winner (cos ~0.700), 1-d cos = -1
        (2, [50.0, -1.0]),   # 1-d winner (cos = +1), full cos ~0.693
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    full = S.brute_force_topk(emb, q, k=1, round_to=None).select(
        "query_id", "neighbor_id"
    )
    emb_t = emb.select("vec_id", F.slice("embedding", 1, 1).alias("embedding"))
    q_t = emb_t.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    trunc = S.brute_force_topk(emb_t, q_t, k=1, round_to=None).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    out = (
        full.join(trunc, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("__hit", F.lit(0))).alias("n_overlap"))
        .collect()
    )
    assert len(out) == 1 and out[0]["n_overlap"] == 0


def test_knn_majority_tie_breaks_to_smaller_label(spark):
    from be_analytic_etl_spark.registry import QUERIES

    rows = QUERIES["ext_knn_label_agreement"](spark, SF_DIR).collect()
    assert len(rows) == 25
    assert all(1 <= r["majority_votes"] <= 5 for r in rows)
    assert all(isinstance(r["agree"], bool) for r in rows)
