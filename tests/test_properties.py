"""Property-based tests (hypothesis): random inputs against independent
reference implementations — the operator contracts must hold on inputs no
hand-written fixture would think of.

Each example runs a real Spark job, so example counts are kept small;
shrinking still gives minimal counterexamples on failure.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

KEYS = st.sampled_from(["a", "b", "c"])
TS = st.integers(min_value=0, max_value=50)


@st.composite
def asof_case(draw):
    left = draw(
        st.lists(st.tuples(KEYS, TS, st.integers(0, 999)), min_size=1, max_size=20)
    )
    right_raw = draw(
        st.lists(st.tuples(KEYS, TS, st.integers(0, 999)), min_size=1, max_size=20)
    )
    # dedup right per (key, ts): the operator's uniqueness contract
    right = list({(k, t): (k, t, v) for k, t, v in right_raw}.values())
    return left, right


@given(case=asof_case(), direction=st.sampled_from(["backward", "forward"]))
@settings(**SETTINGS)
def test_asof_join_matches_pandas_on_random_frames(spark, case, direction):
    from be_analytic_etl_spark.operators.asof import asof_join

    left, right = case
    # unique left row id so duplicated (k, ts) left rows stay distinct
    lpd = pd.DataFrame(
        [(k, t, v, i) for i, (k, t, v) in enumerate(left)],
        columns=["k", "ts", "lval", "rowid"],
    ).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(right, columns=["k", "ts", "rval"]).sort_values(
        "ts", kind="stable"
    )
    want = {
        int(r.rowid): None if pd.isna(r.rval) else int(r.rval)
        for r in pd.merge_asof(
            lpd, rpd, on="ts", by="k", direction=direction, suffixes=("", "_r")
        ).itertuples()
    }

    l = spark.createDataFrame(lpd)
    r = spark.createDataFrame(rpd)
    out = asof_join(l, r, on=["k"], right_cols=["rval"], direction=direction)
    got = {int(row["rowid"]): row["rval_r"] for row in out.collect()}
    assert got == want


@st.composite
def merge_case(draw):
    tkeys = draw(st.lists(st.integers(0, 30), min_size=1, max_size=15, unique=True))
    ukeys = draw(st.lists(st.integers(0, 40), min_size=1, max_size=15, unique=True))
    target = [(k, f"t{k}", float(k)) for k in tkeys]
    updates = [
        (k, f"u{k}", None if k % 3 == 0 else float(k * 2), k % 5 == 0)
        for k in ukeys
    ]
    return target, updates


@given(case=merge_case())
@settings(**SETTINGS)
def test_merge_upsert_laws(spark, case):
    from be_analytic_etl_spark.operators.merge import merge_upsert

    target_rows, update_rows = case
    target = spark.createDataFrame(target_rows, "k long, name string, bal double")
    updates = spark.createDataFrame(
        update_rows, "k long, name string, bal double, is_del boolean"
    )
    out = merge_upsert(target, updates, ["k"], delete_col="is_del")
    got = {r["k"]: (r["name"], r["bal"]) for r in out.collect()}

    # independent python reference
    want = {k: (n, b) for k, n, b in target_rows}
    for k, n, b, d in update_rows:
        if d:
            want.pop(k, None)
        else:
            want[k] = (n, b)
    assert got == want

    # idempotence: applying the same (non-delete) updates again is a no-op
    upd2 = updates.filter("not is_del")
    once = merge_upsert(target, upd2, ["k"], delete_col="is_del")
    twice = merge_upsert(once, upd2, ["k"], delete_col="is_del")
    assert twice.exceptAll(once).count() == 0 and once.exceptAll(twice).count() == 0


@given(
    nums=st.lists(
        st.tuples(st.integers(0, 10**9), st.integers(0, 99)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_br_number_parse_roundtrip(spark, nums):
    """BR-locale strings built from random (int, cents) pairs parse to
    exactly int + cents/100 (both are exact decimal-string -> double
    conversions, so equality is exact)."""
    from pyspark.sql import functions as F

    from be_analytic_etl_spark.functions import br_number_to_double

    def br(n: int, c: int) -> str:
        return f"{n:,}".replace(",", ".") + f",{c:02d}"

    rows = [(i, br(n, c), float(f"{n}.{c:02d}")) for i, (n, c) in enumerate(nums)]
    df = spark.createDataFrame(rows, "i long, raw string, want double")
    got = df.select("i", br_number_to_double("raw").alias("got"), "want").collect()
    for r in got:
        assert r["got"] == r["want"], (r["i"], r["got"], r["want"])


#: FIXTURES.md §3 value-string corpus (the reference's parse and tidy cases).
BR_CORPUS = [
    "1.234,56", "1234,56", "1.234.56", "1234.56", "1234", "R$ 1.234,56",
    " 15,5 ", "", "nan", "NaN", "-", "--", "---", "ND", "N/D", "abc",
    "15.00", "15.50", "15.0",
]


@given(
    values=st.lists(
        st.one_of(
            st.sampled_from(BR_CORPUS),
            # digits.digits with trailing zeros: the only strings the tidy edits
            st.from_regex(r"[0-9]{1,20}\.[0-9]{0,12}0{1,6}", fullmatch=True),
            st.from_regex(r"[0-9]{1,20}(\.[0-9]{1,8})?", fullmatch=True),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_trailing_zero_tidy_never_changes_the_parsed_double(spark, values):
    """br_number_to_double(strip_trailing_zeros(s)) == br_number_to_double(s):
    the tidy only drops zeros after a decimal point, which leaves the
    decimal value, and so its correctly rounded double, unchanged. Ingest
    therefore parses month cells without the tidy step."""
    from be_analytic_etl_spark.functions import br_number_to_double, strip_trailing_zeros

    df = spark.createDataFrame(list(enumerate(values)), "i long, s string")
    got = df.select(
        "s",
        strip_trailing_zeros("s").alias("t"),
        br_number_to_double("s").alias("raw"),
    ).select("s", br_number_to_double("t").alias("tidied"), "raw").collect()
    assert [(r["s"], r["tidied"]) for r in got] == [(r["s"], r["raw"]) for r in got]


@st.composite
def interval_case(draw):
    pts = draw(
        st.lists(st.tuples(KEYS, TS), min_size=1, max_size=25)
    )
    ivs = draw(
        st.lists(
            st.tuples(KEYS, TS, st.integers(0, 20)), min_size=1, max_size=10
        )
    )
    return pts, ivs


@given(case=interval_case(), width=st.sampled_from([1, 3, 7]))
@settings(**SETTINGS)
def test_range_join_matches_naive_on_random_intervals(spark, case, width):
    """Bucketized range join == brute force for every bucket width
    (width only changes the physical plan, never the result)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from be_analytic_etl_spark.operators.rangejoin import range_join

    base = dt.datetime(2024, 1, 1)
    pts, ivs = case
    p = spark.createDataFrame(
        [(k, base + dt.timedelta(seconds=t), i) for i, (k, t) in enumerate(pts)],
        ["k", "ts", "pid"],
    )
    iv = spark.createDataFrame(
        [
            (k, base + dt.timedelta(seconds=s), base + dt.timedelta(seconds=s + d), j)
            for j, (k, s, d) in enumerate(ivs)
        ],
        ["k", "s", "e", "iid"],
    )
    fast = range_join(p, iv, "ts", "s", "e", keys=["k"], bucket_width_seconds=width)
    naive = p.join(iv, "k").filter(
        (F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e"))
    )
    got = sorted((r["pid"], r["iid"]) for r in fast.collect())
    want = sorted((r["pid"], r["iid"]) for r in naive.collect())
    assert got == want


# --- driver union-find vs distributed propagation -----------------------------


@st.composite
def random_edges(draw):
    n_nodes = draw(st.integers(min_value=2, max_value=40))
    edges = draw(
        st.lists(
            st.tuples(
                st.integers(0, n_nodes - 1), st.integers(0, n_nodes - 1)
            ),
            min_size=1,
            max_size=60,
        )
    )
    return edges


@given(edges=random_edges())
@settings(**SETTINGS)
def test_union_find_equals_propagation_on_random_graphs(spark, edges):
    """The driver union-find and the distributed propagation (forced with
    ``driver_solve_edges=0``) must produce identical min-labelings on any
    graph — including self-loops, duplicate edges, and multi-component
    shapes hypothesis invents."""
    from be_analytic_etl_spark.operators.graph import connected_components

    e = spark.createDataFrame(
        pd.DataFrame(edges, columns=["id_a", "id_b"]).astype("int64")
    )
    fast = {(r["id"], r["group_id"]) for r in connected_components(e).collect()}
    dist = {
        (r["id"], r["group_id"])
        for r in connected_components(e, driver_solve_edges=0).collect()
    }
    assert fast == dist


# --- histogram quantiles vs exact ---------------------------------------------


@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=60,
    ),
    bins=st.sampled_from([4, 16, 64]),
)
@settings(**SETTINGS)
def test_histogram_quantile_error_bounded_by_bin_width(spark, vals, bins):
    import numpy as np

    from be_analytic_etl_spark.operators.profiling import histogram_quantiles

    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    got = {
        r["q"]: r["quantile_est"]
        for r in histogram_quantiles(df, "v", bins=bins, quantiles=(0.5, 0.9)).collect()
    }
    import math

    lo, hi = min(vals), max(vals)
    width = (hi - lo) / bins if hi > lo else 0.0
    ordered = sorted(vals)
    for q in (0.5, 0.9):
        # the sketch's convention: the ceil(q*n)-th order statistic,
        # reported as its bin's lower edge
        exact = ordered[max(0, math.ceil(q * len(vals)) - 1)]
        slack = max(abs(exact), 1.0) * 1e-9
        assert got[q] <= exact + slack
        assert got[q] >= exact - width - slack


# --- normalize / PAVA properties --------------------------------------------

TEXTS = st.lists(
    st.text(
        alphabet=st.sampled_from(list("ab çé\t\x07\x0b\n–’Ã©Â")),
        max_size=24,
    ),
    min_size=1,
    max_size=8,
)


@given(texts=TEXTS)
@settings(**SETTINGS)
def test_normalize_text_idempotent_and_clean(spark, texts):
    from be_analytic_etl_spark.operators.normalize import normalize_text

    df = spark.createDataFrame(pd.DataFrame({"t": texts}))
    once = df.select(normalize_text("t").alias("n"))
    twice = once.select(normalize_text("n").alias("n"))
    a = [r.n for r in once.collect()]
    b = [r.n for r in twice.collect()]
    assert a == b  # idempotent
    for s in a:
        assert s == s.strip()
        assert "  " not in s  # whitespace collapsed
        assert not any(ord(c) < 0x20 or ord(c) == 0x7F for c in s)  # no controls


YS = st.lists(
    st.floats(min_value=-100, max_value=100, allow_nan=False), min_size=1, max_size=30
)


@given(ys=YS)
@settings(**SETTINGS)
def test_pava_invariants(ys):
    from be_analytic_etl_spark.operators.regression import _pava

    w = [1.0] * len(ys)
    fit = _pava(ys, w)
    # monotone nondecreasing
    assert all(b >= a - 1e-9 for a, b in zip(fit, fit[1:]))
    # mean-preserving (least-squares projection keeps the weighted mean)
    assert sum(fit) == pytest.approx(sum(ys), rel=1e-9, abs=1e-7)
    # idempotent: fitting the fit returns it unchanged
    refit = _pava(fit, w)
    assert refit == pytest.approx(fit, rel=1e-12, abs=1e-9)
    # already-monotone input passes through exactly
    srt = sorted(ys)
    assert _pava(srt, w) == pytest.approx(srt)


@pytest.mark.parametrize("n_parts", [1, 7, 32])
def test_dataset_manifest_invariant_under_repartition(spark, n_parts):
    """The manifest is a function of the SET of rows, not their layout:
    any repartitioning/shuffling of the input yields the identical
    manifest (count, sums, and the decimal-summed key checksum)."""
    from be_analytic_etl_spark.operators.versioning import dataset_manifest
    from be_analytic_etl_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    base = dataset_manifest(docs, ["lang"], key_col="doc_id", size_col="n_chars")
    shuffled = dataset_manifest(
        docs.repartition(n_parts, "text"),  # arbitrary re-layout
        ["lang"],
        key_col="doc_id",
        size_col="n_chars",
    )
    assert {tuple(r) for r in base.collect()} == {tuple(r) for r in shuffled.collect()}


@given(
    sizes=st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=40),
    seq_len=st.sampled_from([1, 7, 64, 128]),
    n_buckets=st.sampled_from([1, 4]),
)
@settings(**SETTINGS)
def test_pack_sequences_tiles_exactly_on_random_sizes(
    spark, sizes, seq_len, n_buckets
):
    """Property: segments tile every non-empty document exactly; every
    non-tail example per bucket is exactly seq_len tokens; offsets stay
    inside the example. Covers the boundary shapes a corpus test can
    miss: doc length == seq_len, multiples of it, giant single docs,
    zero-token docs, seq_len=1."""
    from collections import defaultdict

    from be_analytic_etl_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(sizes)], "doc_id long, n_tokens int"
    )
    rows = pack_sequences(
        df, seq_len=seq_len, n_buckets=n_buckets
    ).collect()

    per_doc = defaultdict(int)
    per_ex = defaultdict(int)
    max_ex = {}
    for r in rows:
        assert 0 < r["n_seg_tokens"] <= seq_len
        assert 0 <= r["example_offset"] < seq_len
        assert r["example_offset"] + r["n_seg_tokens"] <= seq_len
        assert r["doc_offset"] >= 0
        per_doc[r["doc_id"]] += r["n_seg_tokens"]
        per_ex[(r["bucket"], r["example_idx"])] += r["n_seg_tokens"]
        max_ex[r["bucket"]] = max(
            max_ex.get(r["bucket"], -1), r["example_idx"]
        )
    assert per_doc == {
        i: n for i, n in enumerate(sizes) if n > 0
    }, "segments must tile each non-empty document exactly"
    for (b, ex), tot in per_ex.items():
        if ex < max_ex[b]:
            assert tot == seq_len
        else:
            assert tot <= seq_len


# --- token-budget sampling --------------------------------------------------


@st.composite
def budget_case(draw):
    rows = draw(
        st.lists(
            st.tuples(
                st.sampled_from(["a", "b", "c"]),     # group
                st.integers(0, 99),                   # id (deduped below)
                st.integers(0, 9),                    # rank score
                st.integers(1, 50),                   # cost
            ),
            min_size=1,
            max_size=40,
        )
    )
    uniq = list({(g, i): (g, i, s, c) for g, i, s, c in rows}.values())
    budget = draw(st.integers(1, 200))
    return uniq, budget


@given(case=budget_case())
@settings(**SETTINGS)
def test_token_budget_sample_matches_greedy_reference(spark, case):
    """Selection is exactly the greedy prefix of the (score desc, id)
    ordering per group, stopping once prior cost reaches the budget."""
    from collections import defaultdict

    from be_analytic_etl_spark.operators.sampling import token_budget_sample

    rows, budget = case
    df = spark.createDataFrame(
        rows, "grp string, id long, score int, cost long"
    )
    got = {
        (r["grp"], r["id"]): (r["sel_rank"], r["cum_cost"])
        for r in token_budget_sample(
            df, group_col="grp", rank_col="score", cost_col="cost",
            id_col="id", budget=budget,
        ).collect()
    }
    want = {}
    by_group = defaultdict(list)
    for g, i, s, c in rows:
        by_group[g].append((i, s, c))
    for g, members in by_group.items():
        members.sort(key=lambda t: (-t[1], t[0]))
        prior = 0
        for rank, (i, s, c) in enumerate(members, start=1):
            if prior >= budget:
                break
            want[(g, i)] = (rank, prior + c)
            prior += c
    assert got == want


# --- reciprocal rank fusion --------------------------------------------------


@st.composite
def rrf_case(draw):
    ids = st.integers(0, 30)
    a = draw(st.lists(ids, min_size=1, max_size=10, unique=True))
    b = draw(st.lists(ids, min_size=1, max_size=10, unique=True))
    return a, b


@given(case=rrf_case())
@settings(**SETTINGS)
def test_rrf_fuse_matches_reference_scores(spark, case):
    from be_analytic_etl_spark.operators.similarity import rrf_fuse

    a_ids, b_ids = case
    a = spark.createDataFrame(
        [(i, r + 1) for r, i in enumerate(a_ids)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(i, r + 1) for r, i in enumerate(b_ids)], "doc_id long, rank int"
    )
    out = rrf_fuse(
        [a, b], id_col="doc_id", out_names=["ra", "rb"], k=60
    ).collect()
    ra = {i: r + 1 for r, i in enumerate(a_ids)}
    rb = {i: r + 1 for r, i in enumerate(b_ids)}
    want_score = {
        i: (1.0 / (60.0 + ra[i]) if i in ra else 0.0)
        + (1.0 / (60.0 + rb[i]) if i in rb else 0.0)
        for i in set(a_ids) | set(b_ids)
    }
    got_score = {r["doc_id"]: r["rrf_score"] for r in out}
    assert got_score == want_score  # exact — one division + one add per term
    order = sorted(want_score, key=lambda i: (-want_score[i], i))
    got_order = [
        r["doc_id"] for r in sorted(out, key=lambda r: r["fused_rank"])
    ]
    assert got_order == order


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 1)), min_size=1, max_size=40
    )
)
@settings(**SETTINGS)
def test_roc_auc_matches_pair_counting_on_random_frames(spark, rows):
    """The histogram rank-sum AUC must equal the O(n^2) definition:
    (wins + 0.5 * ties) / (n_pos * n_neg) over all pos/neg pairs."""
    from be_analytic_etl_spark.operators.evalstats import roc_auc

    df = spark.createDataFrame(rows, "score int, pos int")
    got = roc_auc(df, "score", "pos").collect()[0]

    pos = [s for s, p in rows if p == 1]
    neg = [s for s, p in rows if p == 0]
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    if not pos or not neg:
        assert got["auc"] is None
        return
    wins = sum(1.0 for a in pos for b in neg if a > b)
    ties = sum(1.0 for a in pos for b in neg if a == b)
    expect = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert got["auc"] == pytest.approx(expect, abs=1e-12)


@given(n_parts=st.sampled_from([3, 7, 13]))
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_poisson_bootstrap_invariant_under_repartition(spark, n_parts):
    """Replicate weights are a pure function of (id, rep), so the CI must
    be bit-identical no matter how the input is partitioned. The single
    -partition baseline is recomputed inside the test body — caching it
    across hypothesis examples silently compared a run to itself when
    only one example executed (round-6 advice)."""
    from decimal import Decimal

    from be_analytic_etl_spark.operators.evalstats import poisson_bootstrap_ci

    rows = [
        ("g%d" % (i % 3), i, Decimal(i % 7) / Decimal(10))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "grp string, id long, v decimal(18,6)")
    baseline = sorted(
        poisson_bootstrap_ci(
            df.repartition(1), "grp", "id", "v", n_reps=8
        ).collect()
    )
    got = sorted(
        poisson_bootstrap_ci(
            df.repartition(n_parts), "grp", "id", "v", n_reps=8
        ).collect()
    )
    assert got == baseline
