"""Extension-operator tests: dedup, similarity, text analysis.

Oracle-checked queries are covered by test_registry_oracle + the driver;
this file covers what SQL can't express — SimHash exactness vs a
pure-Python reference, portable-hash parity with hashlib, LSH-ANN recall
vs the brute-force baseline — plus behavioral checks on constructed
duplicates.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators import dedup as D
from be_analytic_etl_spark.operators import similarity as S
from be_analytic_etl_spark.operators import textstats as T
from tests.conftest import broadcast_threshold, executed_plan

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, n=40):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .orderBy("doc_id")
        .limit(n)
        .cache()
    )


# --- portable hash ---------------------------------------------------------


def test_portable_base_hash_matches_hashlib(spark):
    df = spark.createDataFrame([("abc",), ("x y z",), ("",)], ["s"])
    rows = df.select("s", T.portable_base_hash(F.col("s")).alias("h")).collect()
    for r in rows:
        expect = int(hashlib.md5(r["s"].encode()).hexdigest()[:15], 16) % D.PORTABLE_P
        assert r["h"] == expect


def test_portable_minhash_matches_python(spark):
    texts = ["a b c d e f", "the quick brown fox"]
    df = spark.createDataFrame(list(enumerate(texts)), ["i", "t"])
    k, n = 4, 2
    rows = df.select(
        "i", D.minhash_signature("t", k, n, portable=True).alias("sig")
    ).collect()
    params = D.portable_affine_params(k)
    for r in rows:
        toks = texts[r["i"]].split()
        grams = {
            " ".join(toks[j : j + n]) for j in range(max(len(toks) - n, 0) + 1)
        }
        bases = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % D.PORTABLE_P
            for g in grams
        ]
        expect = [min((h * a + b) % D.PORTABLE_P for h in bases) for a, b in params]
        assert list(r["sig"]) == expect


def test_xxhash64_minhash_matches_explode_groupby(spark):
    """The default signature, slot by slot, is the minimum of
    xxhash64(shingle, seed) over the document's shingles, computed here
    the long way: shingles from Python, exploded against the seeds and
    reduced with groupBy."""
    texts = ["a b c d e f", "the quick brown fox", "a b a b a b", "solo"]
    k, n = 4, 2
    df = spark.createDataFrame(list(enumerate(texts)), ["i", "t"])
    got = {
        r["i"]: list(r["sig"])
        for r in df.select("i", D.minhash_signature("t", k, n).alias("sig")).collect()
    }
    shingles = spark.createDataFrame(
        [
            (i, " ".join(t.split()[j : j + n]))
            for i, t in enumerate(texts)
            for j in range(max(len(t.split()) - n, 0) + 1)
        ],
        "i long, sh string",
    )
    # the signature's seeds are sequence(0, k - 1): INT, not range()'s BIGINT
    seeds = spark.range(k).select(F.col("id").cast("int").alias("seed"))
    want = {}
    for r in (
        shingles.crossJoin(seeds)
        .groupBy("i", "seed")
        .agg(F.min(F.xxhash64("sh", "seed")).alias("h"))
        .collect()
    ):
        want.setdefault(r["i"], [None] * k)[r["seed"]] = r["h"]
    assert got == want


# --- simhash vs pure-python reference --------------------------------------


def _xxhash64_py(spark, tokens):
    # Ground truth for the token hash from the engine itself (single call),
    # so the python reference only re-implements the BIT-VOTE, not xxhash.
    df = spark.createDataFrame([(t,) for t in tokens], ["t"])
    return {
        r["t"]: r["h"]
        for r in df.select("t", F.xxhash64("t").alias("h")).collect()
    }


def _simhash_py(tokens, hashes):
    votes = [0] * 64
    for t in tokens:
        h = hashes[t] & (2**64 - 1)
        for i in range(64):
            votes[i] += 1 if (h >> i) & 1 else -1
    out = 0
    for i in range(64):
        if votes[i] > 0:
            out |= 1 << i
    return out - 2**64 if out >= 2**63 else out


def test_simhash_matches_python_reference(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "completely different content here",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()}
    for i, text in enumerate(texts):
        toks = text.split()
        hashes = _xxhash64_py(spark, list(set(toks)))
        assert got[i] == _simhash_py(toks, hashes), f"doc {i}"


def test_simhash_neardup_contract(spark):
    # SimHash on tiny docs flips many bits per token change (votes are near
    # zero), so the honest contract to test is: exact dups -> hamming 0 and
    # found; reported hamming == popcount(xor) of the simhash values; no
    # pair above max_hamming is returned.
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    far = "one two three four five six seven eight nine ten " * 4
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, far), (4, far)], ["doc_id", "text"]
    )
    sims = {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()}
    assert sims[1] == sims[2] and sims[3] == sims[4]

    max_h = 8
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_neardup_pairs(df, max_hamming=max_h).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(3, 4)] == 0
    mask = 2**64 - 1
    for (a, b), h in pairs.items():
        assert h == bin((sims[a] ^ sims[b]) & mask).count("1")
        assert h <= max_h


# --- exact + minhash dedup on constructed duplicates -----------------------


def test_exact_dedup_keep_min(spark):
    df = spark.createDataFrame(
        [(10, "same text"), (3, "same text"), (7, "unique")], ["doc_id", "text"]
    )
    rows = {r["keep_id"]: r["n_copies"] for r in D.exact_dedup_keep_min(df).collect()}
    assert rows == {3: 2, 7: 1}


def test_minhash_lsh_finds_exact_dup_pair(spark):
    docs = _docs(spark, 30)
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    pairs = D.minhash_lsh_pairs(
        both, num_hashes=16, bands=4, jaccard_threshold=0.9
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    expected = {(i, i + 100000) for i in [r["doc_id"] for r in docs.limit(5).collect()]}
    assert expected <= found
    for r in pairs:
        if (r["id_a"], r["id_b"]) in expected:
            assert r["jaccard"] == pytest.approx(1.0)


#: The dedup operators that join their candidates to the persisted,
#: counted ``kept`` buckets.
_KEPT_JOINS = {
    "minhash_lsh_pairs": lambda df: D.minhash_lsh_pairs(df, num_hashes=16, bands=4, jaccard_threshold=0.9),
    "simhash_neardup_pairs": lambda df: D.simhash_neardup_pairs(df, max_hamming=8),
    "simhash_panel": lambda df: D.simhash_panel(df, max_hamming=8),
}


@pytest.mark.parametrize("name", sorted(_KEPT_JOINS))
def test_kept_join_broadcasts_only_within_the_threshold(spark, name):
    """The join on ``kept`` carries no broadcast hint: the planner sizes
    the filled cache, broadcasts it under the default threshold and
    shuffles it when the threshold is below its size, with the same
    result."""
    docs = _docs(spark, 30)
    both = docs.unionByName(docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000))
    build = _KEPT_JOINS[name]
    small = build(both)
    want = sorted(map(tuple, small.collect()))
    assert "BroadcastHashJoin" in executed_plan(small)
    with broadcast_threshold(spark, "100b"):
        big = build(both)
        got = sorted(map(tuple, big.collect()))
        plan = executed_plan(big)
    assert "BroadcastHashJoin" not in plan, plan
    assert got == want and len(want) > 0


# --- similarity: LSH ANN vs brute force ------------------------------------


def test_lsh_ann_subset_of_bruteforce_ranking(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = S.brute_force_topk(emb, queries, k=10)
    approx = S.lsh_bucket_ann(emb, queries, dim=64, n_planes=4, k=10)
    exact_rows = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact.collect()}
    for r in approx.collect():
        # every ANN hit must carry the exact cosine the brute-force path
        # computed for that pair (when the pair made brute-force top-10)
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_rows:
            assert r["cos_sim"] == pytest.approx(exact_rows[key], abs=1e-12)


def test_brute_force_topk_ranks_correctly(spark):
    import math

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(30).cache()
    queries = emb.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = S.brute_force_topk(emb, queries, k=3, round_to=None).collect()
    data = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    qid = got[0]["query_id"]
    qv = data[qid]

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(x) ** 2 for x in b))
        return dot / (na * nb)

    expect = sorted(
        ((cos(qv, v), -i) for i, v in data.items() if i != qid), reverse=True
    )[:3]
    for r, (c, negid) in zip(sorted(got, key=lambda r: r["rank"]), expect):
        assert r["neighbor_id"] == -negid
        assert r["cos_sim"] == pytest.approx(c, abs=1e-9)


# --- IVF ANN ---------------------------------------------------------------


def test_ivf_ann_exact_cosines_and_shape(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = S.brute_force_topk(emb, queries, k=50, round_to=None)
    got = S.ivf_ann(emb, queries, n_cells=4, n_probe=2, k=5, round_to=None).collect()
    exact_rows = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact.collect()
    }
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_rows:
            # candidate cosines must equal the exact path bit-for-bit
            assert r["cos_sim"] == exact_rows[key]
    for q, rows in by_q.items():
        assert len(rows) == 5
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == [1, 2, 3, 4, 5]


def test_ivf_probe_widening_monotone_recall(spark):
    """n_probe = n_cells degenerates to exact search over all cells."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = S.brute_force_topk(emb, queries, k=5, round_to=None)
    full_probe = S.ivf_ann(emb, queries, n_cells=4, n_probe=4, k=5, round_to=None)
    e = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in exact.collect()}
    f = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in full_probe.collect()}
    assert e == f


# --- BPE-ish tokens + rolling fingerprint ----------------------------------


def test_bpe_ish_token_count_cases(spark):
    from be_analytic_etl_spark.operators import textstats as T

    cases = [
        ("don't!", 4),          # don | ' | t | !
        ("Hello, world42 foo", 5),
        ("", 0),
        (None, 0),
        ("a1b2", 4),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], ["i", "t"]
    )
    got = {r["i"]: r["n"] for r in df.select("i", T.bpe_ish_token_count("t").alias("n")).collect()}
    for i, (_, expect) in enumerate(cases):
        assert got[i] == expect, f"case {i}"


def test_rolling_fingerprint_matches_python(spark):
    from be_analytic_etl_spark.operators import textstats as T

    texts = ["a b c", "c b a", "", "  the quick  brown fox "]
    df = spark.createDataFrame(list(enumerate(texts)), ["i", "t"])
    got = {
        r["i"]: r["fp"]
        for r in df.select("i", T.rolling_fingerprint("t").alias("fp")).collect()
    }

    def pyfp(text):
        toks = text.split() if text.strip() else []
        acc = 0
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % T.PORTABLE_P
            acc = (acc * T.ROLL_B + h) % T.PORTABLE_P
        return acc

    for i, t in enumerate(texts):
        assert got[i] == pyfp(t), f"text {t!r}"
    # order sensitivity: same tokens, different order, different fingerprint
    assert got[0] != got[1]


def test_hash_split_deterministic_and_sized(spark):
    """Split assignment is a pure key function: stable across partitionings,
    fractions land near the configured weights, and the sample threshold
    matches a driver-side md5 reference."""
    import hashlib as _h

    from be_analytic_etl_spark.operators import sampling as SP

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    out = df.select("k", SP.hash_bucket("k", salt="split").alias("b"),
                    SP.assign_split("k").alias("split")).collect()
    got = {r["k"]: (r["b"], r["split"]) for r in out}

    def pybucket(k, salt):
        h = _h.md5(f"{k}|{salt}".encode()).hexdigest()
        return int(h[:15], 16) % SP.SPLIT_BUCKETS

    for k, (b, split) in got.items():
        assert b == pybucket(k, "split")
        expect = "train" if b < 9000 else ("val" if b < 9500 else "test")
        assert split == expect
    counts = {}
    for _, (_, s) in got.items():
        counts[s] = counts.get(s, 0) + 1
    assert 0.85 <= counts["train"] / 2000 <= 0.95
    # repartitioning must not move any key between splits
    again = {r["k"]: r["split"] for r in df.repartition(13).select(
        "k", SP.assign_split("k").alias("split")).collect()}
    assert all(again[k] == got[k][1] for k in got)


def test_deterministic_sample_fraction(spark):
    from be_analytic_etl_spark.operators import sampling as SP

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    n = SP.deterministic_sample(df, "k", 0.2).count()
    assert 0.17 <= n / 5000 <= 0.23
    # stable: same rows every run
    a = {r["k"] for r in SP.deterministic_sample(df, "k", 0.2).collect()}
    b = {r["k"] for r in SP.deterministic_sample(df, "k", 0.2).collect()}
    assert a == b

    with pytest.raises(ValueError):
        SP.assign_split("k", [("train", 0.5), ("test", 0.4)])


def test_hll_estimate_within_error_bound(spark):
    """p=10 -> SE ~3.25%; the estimate of a known cardinality must land
    within 4 standard errors, and the corrected path must kick in for
    small cardinalities (linear counting)."""
    from be_analytic_etl_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    n = 20_000
    df = spark.range(n).select(
        F.lit("g").alias("g"), (F.col("id") % 5000).alias("v")
    )
    regs = hll_registers(df, ["g"], "v", p=10)
    est = hll_estimate(regs, ["g"], p=10).collect()[0]["hll_estimate"]
    assert abs(est - 5000) / 5000 < 4 * 1.04 / (1 << 5), est  # 4*SE(p=10)

    small = spark.range(30).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    small_regs = hll_registers(small, ["g"], "v", p=10)
    est_corr = hll_estimate(small_regs, ["g"], p=10, corrected=True).collect()[0][
        "hll_estimate"
    ]
    assert abs(est_corr - 30) / 30 < 0.2, est_corr


def test_kmeans_separates_known_blobs(spark):
    """Three well-separated 2-D blobs -> 3 pure clusters after 3 iters."""
    from be_analytic_etl_spark.operators.clustering import kmeans_fit_predict

    # ids interleaved across blobs (id % 3 == blob) so the min-id init
    # seeds one centroid per blob — with all seeds in one blob Lloyd
    # correctly converges to a split-that-blob local optimum instead.
    centers = [(0.0, 0.0), (10.0, 10.0), (-10.0, 5.0)]
    rows = []
    for b, (bx, by) in enumerate(centers):
        j = 0
        for dx in (-0.5, 0.0, 0.5):
            for dy in (-0.5, 0.0, 0.5):
                rows.append((j * 3 + b, [bx + dx, by + dy]))
                j += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_fit_predict(df, "vec_id", "embedding", k=3, iters=3, dim=2)
    labels = {r["vec_id"]: r["cluster"] for r in out.collect()}
    blobs = [{labels[j * 3 + b] for j in range(9)} for b in range(3)]
    assert all(len(b) == 1 for b in blobs), blobs
    assert len(set().union(*blobs)) == 3


def test_hll_merge_equals_direct_sketch(spark):
    """Register-wise MAX union of per-group sketches is EXACTLY the
    sketch of the combined data (max is associative) — the mergeability
    that lets per-shard sketches roll up without re-reading raw data."""
    from be_analytic_etl_spark.operators.sketches import (
        hll_estimate,
        hll_merge_registers,
        hll_registers,
    )

    rows = [(i % 3, f"v{i % 37}") for i in range(200)]
    df = spark.createDataFrame(rows, "shard int, v string")
    per_shard = hll_registers(df, ["shard"], "v", p=6)
    merged = {
        (r["__idx"], r["__m"])
        for r in hll_merge_registers(per_shard, []).collect()
    }
    direct = {
        (r["__idx"], r["__m"])
        for r in hll_registers(df, [], "v", p=6).collect()
    }
    assert merged == direct
    est_m = hll_estimate(
        hll_merge_registers(per_shard, []), [], p=6
    ).collect()[0]["hll_estimate"]
    est_d = hll_estimate(
        hll_registers(df, [], "v", p=6), [], p=6
    ).collect()[0]["hll_estimate"]
    assert est_m == est_d  # bit-identical, not just close
    # accuracy itself is covered by test_hll_estimate_within_error_bound
    # (p=8, cardinality >> m); at 37 distinct vs m=64 the uncorrected
    # raw estimate is biased high by design (linear-counting regime).
    assert est_m > 0


def test_cosine_pairs_max_block_flood_guard(spark):
    """Embedding-pathology guard: with a sane
    cap the clean corpus is row-identical to the uncapped form, and a
    constant-embedding flood (every vector in one block) is dropped
    outright instead of going C(n, 2)."""
    from pyspark.sql import functions as F

    from be_analytic_etl_spark.operators.similarity import (
        assign_cells,
        cosine_pairs_above,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cells = assign_cells(emb, n_cells=8).localCheckpoint(eager=False)

    def rows(df):
        return sorted((r["id_a"], r["id_b"], r["cos_sim"]) for r in df.collect())

    uncapped = rows(
        cosine_pairs_above(cells, block_cols=["cell"], threshold=0.9)
    )
    capped = rows(
        cosine_pairs_above(
            cells, block_cols=["cell"], threshold=0.9, max_block=10_000
        )
    )
    assert capped == uncapped  # generous cap: identity on clean data

    dim = len(emb.first()["embedding"])
    n = 60
    const = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.1).cast("float")] * dim).alias("embedding"),
        F.lit(0).alias("cell"),
    )
    flood = cosine_pairs_above(
        const, block_cols=["cell"], threshold=0.9
    ).count()
    assert flood == n * (n - 1) // 2  # uncapped: the full quadratic set
    guarded = cosine_pairs_above(
        const, block_cols=["cell"], threshold=0.9, max_block=50
    ).count()
    assert guarded == 0  # flood block dropped outright
