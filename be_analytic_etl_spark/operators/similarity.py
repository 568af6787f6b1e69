"""Similarity search over embedding columns (array<float>).

Two paths, per the scale plan:

- **Brute-force cosine top-k** — the correctness baseline: broadcast the
  (small) query set, one narrow pass over the embedding table computing
  cosine with native array expressions (zip_with + aggregate, all
  JVM-side, doubles), then a per-query top-k window. Cost: O(|queries| x N)
  — fine when |queries| is small; the full pass parallelizes perfectly.
- **LSH-bucketed (random hyperplanes)** — the scale path: b deterministic
  pseudo-random hyperplanes -> b-bit sign sketch -> candidates share the
  bucket (optionally with multi-probe) -> exact cosine re-rank within
  buckets. Shuffle carries (id, bucket, vector) once; the quadratic part is
  confined to buckets.

- **IVF** (inverted-file index: coarse-quantize into cells, probe the
  nearest cells — Sivic & Zisserman, "Video Google", ICCV 2003; Jégou/
  Douze/Schmid, "Product quantization for nearest neighbor search", TPAMI
  2011) — same plumbing as a trained k-means quantizer, with a
  deterministic quantizer so the full path is oracle-checkable.

Random-hyperplane sketches per Charikar (STOC 2002).

All math is double-precision (cast from float32 storage) so results are
reproducible against a double-precision oracle.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Exact-eval probe convention (SCALE.md): eval queries that run the
# deliberately-exact brute-force baseline draw their probe set as
# vec_id % PROBE_MODULUS == 0 AND vec_id < PROBE_CAP_ID. The modulus
# alone scales the probe count with the corpus (O(N^2/100) total exact
# work); the id cap bounds it at PROBE_CAP_ID/PROBE_MODULUS = 1000
# probes, making the baselines O(1000 x N) — linear — at any corpus
# size. Every oracle interpolates PROBE_WHERE_SQL directly (single
# source — no hand-copied literals; tests/test_probe_cap.py pins both
# the constant values and that every probe oracle carries the cap); at
# the tested SFs (max vec_id 1999) the cap is inactive, so results are
# bit-identical to the uncapped convention.
PROBE_MODULUS = 100
PROBE_CAP_ID = 100_000
PROBE_WHERE_SQL = f"vec_id % {PROBE_MODULUS} = 0 AND vec_id < {PROBE_CAP_ID}"


def probe_filter(col: Column | str = "vec_id") -> Column:
    """The deterministic, corpus-size-bounded probe-set predicate."""
    c = F.col(col) if isinstance(col, str) else col
    return (c % PROBE_MODULUS == 0) & (c < PROBE_CAP_ID)


def _vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))



def _maybe_round(c: Column, round_to: int | None) -> Column:
    """Rounding is for display; oracle-checked paths pass None and compare
    bit-identical doubles (same IEEE op sequence in both engines)."""
    return F.round(c, round_to) if round_to is not None else c

# --- SQL-text builders for the centroid-scoring hot path -------------------
#
# assign_cells / ivf_ann score every row against k inlined centroids. Built
# with F.* HOF lambdas, that expression costs ~1.6k py4j round trips to
# BUILD (~2.5 s cold, ~0.7 s warm, measured) before the JVM sees any plan —
# pure driver-side waste, the same pathology pq_ann fixed in round 4 (see
# SCALE.md "Python-side plan-build cost"). These helpers emit the IDENTICAL
# expression as one SQL string parsed in a single round trip: same ops, same
# order, bit-identical results: repr() round-trips doubles exactly —
# including subnormals and extremes — and Spark's literal parser is
# correctly rounding, so an "1.234D" literal IS the original double.


def _arr_sql(xs) -> str:
    return "array(" + ",".join(f"{float(x)!r}D" for x in xs) + ")"


def _dot_sql(a: str, b: str) -> str:
    """SQL twin of dot(): same left fold, same 0.0 seed."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _vec_sql(col: str) -> str:
    """SQL twin of _vec(): elementwise double cast."""
    return f"transform({col}, e -> CAST(e AS DOUBLE))"


def _sims_sql(cent_vecs, cent_norms, v: str, nv: str) -> str:
    """array< cosine(centroid_i, v) > with zero-norm guard — SQL twin of the
    per-centroid F.when(...).otherwise(dot/norms) array."""
    terms = ",".join(
        f"(CASE WHEN ({float(cent_norms[i])!r}D = 0) OR ({nv} = 0) THEN 0.0D "
        f"ELSE {_dot_sql(_arr_sql(cent_vecs[i]), v)}"
        f" / ({float(cent_norms[i])!r}D * {nv}) END)"
        for i in range(len(cent_vecs))
    )
    return f"array({terms})"


def _cells_sql(
    vec_sql: str,
    cent_vecs,
    cent_norms,
    n_assign: int,
    null_guard: bool,
    ranked: bool | None = None,
) -> str:
    """Full cell-assignment expression as ONE SQL string.

    The nested single-element ``transform(array(x), v -> ...)`` is the SQL
    spelling of functions.let (bind once, reference many) — v = the cast
    vector, nv = its norm, s = the per-centroid sims array.

    ``ranked`` False (default for n_assign=1): argmax (first-max
    tie-break). ``ranked`` True (default otherwise; ivf_ann uses it even
    for n=1): top-n by (sim desc, cell asc) via sort_array over
    (-sim, idx) structs — arrays_zip's SQL field names are positional
    ("0"/"1"); sort_array compares struct fields positionally, so naming
    differences vs the aliased Python form are value-invisible.
    ``null_guard`` adds the NULL-vector -> [NULL cell] guard
    (assign_cells' multi-assign contract).
    """
    k = len(cent_vecs)
    if ranked is None:
        ranked = n_assign > 1
    sims = _sims_sql(cent_vecs, cent_norms, "v", "nv")
    if not ranked:
        body = "array(CAST(array_position(s, array_max(s)) AS INT) - 1)"
    else:
        ranked = f"sort_array(arrays_zip(transform(s, x -> -x), sequence(0, {k - 1})))"
        body = (
            f"transform(slice({ranked}, 1, {n_assign}), st -> CAST(st.`1` AS INT))"
        )
        if null_guard:
            body = f"CASE WHEN v IS NULL THEN array(CAST(NULL AS INT)) ELSE {body} END"
    let_s = f"element_at(transform(array({sims}), s -> {body}), 1)"
    norm = f"sqrt({_dot_sql('v', 'v')})"
    let_nv = f"element_at(transform(array({norm}), nv -> {let_s}), 1)"
    return f"element_at(transform(array({vec_sql}), v -> {let_nv}), 1)"


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns (sequential fold — matches
    a scalar engine's left-to-right summation for reproducibility)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 5,
    round_to: int | None = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Returns (query_id, neighbor_id, cos_sim, rank); self-matches
    (query_id == neighbor_id) excluded. Ties broken by neighbor id.
    """
    from pyspark.sql import Window

    # Norms attach BEFORE the pair join: one fold per vector instead of
    # re-deriving both norms inside every pair's cosine (3x less compute
    # on the |queries| x N scored set; bit-identical — same fold, same
    # values).
    q = queries.select(
        F.col(query_id_col), _vec(query_vec_col).alias("__qv")
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _vec(vec_col).alias("__ev")
    ).withColumn("__en", l2_norm(F.col("__ev")))
    cos = F.when((F.col("__qn") == 0) | (F.col("__en") == 0), F.lit(0.0)).otherwise(
        dot(F.col("__qv"), F.col("__ev")) / (F.col("__qn") * F.col("__en"))
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            _maybe_round(cos, round_to).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_pairs_above(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cols: list[str] | None = None,
    threshold: float = 0.99,
    round_to: int | None = 4,
    panes: int = 1,
    max_block: int | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold, self-joined within blocks
    (embedding-cosine near-dup detection).

    ``panes > 1`` splits each block's pair search across ``panes`` join
    keys: the right side pins every vector to pane ``id % panes``, the
    left side replicates to all panes, and the join key becomes
    (blocks..., pane) — each ordered pair still meets exactly once (at the
    right vector's pane). With few blocks the plain join runs ONE task per
    block and the per-pair cosine fold serializes on a handful of cores
    (measured 8 cells -> 8 tasks -> a 21 s stage at sf0.1); paning raises
    the key count to |blocks| x panes at the cost of shipping the (tiny)
    left side ``panes`` times. Output is identical — panes is pure
    physical parallelism, invisible to the oracle.

    ``max_block`` is the embedding-pathology flood guard (the
    candidate_pairs/simhash ``max_bucket`` pattern in vector space): an
    encoder bug emitting one constant vector collapses EVERY row into
    one IVF cell and the within-block self-join goes C(n, 2) — 5e17
    pairs at 1e9 vectors. With the cap set, blocks larger than
    ``max_block`` are skipped outright (a constant-embedding corpus is
    upstream poison, not semantics; real cells sit orders of magnitude
    below any sane cap). Opt-in and default-off: registered queries keep
    the uncapped oracle-paired semantics, pinned unchanged on the clean
    corpus by
    tests/test_extensions.py::test_cosine_pairs_max_block_flood_guard.
    """
    # Per-vector norm computed once before the pair join (not 2 more folds
    # per pair inside cosine()) — bit-identical, 3x less pair compute.
    base = embeddings.select(
        *(block_cols or []), F.col(id_col).alias("__id"), _vec(vec_col).alias("__v")
    ).withColumn("__n", l2_norm(F.col("__v")))
    keys = block_cols or []
    if max_block is not None and keys:
        kept = (
            base.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_block)
            .select(*keys)
        )
        base = base.join(F.broadcast(kept), keys)
    left = base.select(
        *keys,
        F.col("__id").alias("id_a"),
        F.col("__v").alias("v_a"),
        F.col("__n").alias("n_a"),
    )
    right = base.select(
        *keys,
        F.col("__id").alias("id_b"),
        F.col("__v").alias("v_b"),
        F.col("__n").alias("n_b"),
    )
    if panes > 1:
        left = left.withColumn(
            "__pane", F.explode(F.array(*[F.lit(i) for i in range(panes)]))
        )
        right = right.withColumn("__pane", F.pmod(F.col("id_b"), F.lit(panes)))
        keys = [*keys, "__pane"]
    cand = (left.join(right, keys) if keys else left.crossJoin(right)).filter(
        F.col("id_a") < F.col("id_b")
    )
    keys = block_cols or []
    cos = F.when((F.col("n_a") == 0) | (F.col("n_b") == 0), F.lit(0.0)).otherwise(
        dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
    )
    return (
        cand.select(
            *keys,
            "id_a",
            "id_b",
            _maybe_round(cos, round_to).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    n_cells: int = 8,
    n_probe: int = 2,
    k: int = 5,
    round_to: int | None = 4,
) -> DataFrame:
    """IVF-style approximate NN: coarse-quantize vectors into ``n_cells``
    cells, probe the ``n_probe`` best cells per query, exact cosine re-rank
    inside the probed cells only.

    The coarse quantizer here is the ``n_cells`` lowest-id vectors — a
    deterministic, oracle-replicable stand-in for k-means centroids; the
    plumbing (and the scale behavior) is identical to a trained quantizer.
    Like faiss, the quantizer is tiny and lives on every worker: the
    centroids are collected driver-side (n_cells x dim doubles) and inlined
    as literals, so CELL ASSIGNMENT IS A MAP-ONLY PASS — no join, no
    shuffle touches the embedding table until the final per-cell re-rank,
    which moves only the probed cells (~n_probe/n_cells of the data).

    Returns (query_id, neighbor_id, cos_sim, rank) with rank <= k within
    the probed candidate set. Ties: higher cosine first, then lower
    neighbor id; cell argmax tie-breaks to the lowest cell index.
    """
    from pyspark.sql import Window

    # Per-row expression does 1 norm + k dots instead of 2k+1 interpreted
    # HOF folds (cosine() re-derives both norms per centroid).
    cent_vecs, cent_norms = _coarse_centroids(embeddings, id_col, vec_col, n_cells)

    def probe_cells(vec_sql: str, n: int) -> Column:
        """Indices of the n best cells by cosine, first-max tie-break —
        always the ranked (sort-based) form, n=1 included, as one parsed
        SQL expression (same py4j-chatter fix as assign_cells)."""
        return F.expr(
            _cells_sql(
                vec_sql, cent_vecs, cent_norms, n, null_guard=False, ranked=True
            )
        )

    # NULL embeddings are excluded EXPLICITLY on both sides (same contract
    # as ivf_pq_ann): a NULL vector would get a NULL cell and be silently
    # dropped by the equi-join here, while a SQL oracle's ROW_NUMBER ...
    # NULLS LAST would still assign it a real cell — an engine divergence;
    # oracles must mirror this filter.
    e = (
        embeddings.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("neighbor_id"), _vec(vec_col).alias("__ev"))
        .withColumn("cell", F.element_at(probe_cells("__ev", 1), 1))
    )
    q = (
        queries.filter(F.col(query_vec_col).isNotNull())
        .select(F.col(query_id_col), _vec(query_vec_col).alias("__qv"))
        .withColumn("cell", F.explode(probe_cells("__qv", n_probe)))
    )

    scored = (
        e.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            _maybe_round(cosine(F.col("__qv"), F.col("__ev")), round_to).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _pseudo_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes without RNG state: component
    (p, i) derives from sha256(seed, p, i), mapped to [-1, 1). Driver-side,
    tiny, broadcast as literals."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.sha256(struct.pack("<qqq", seed, p, i)).digest()
            (u,) = struct.unpack("<Q", h[:8])
            row.append((u / 2**63) - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int,
    n_planes: int = 8,
    k: int = 5,
    round_to: int | None = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: random-hyperplane sign buckets, exact re-rank
    within the shared bucket. Recall < 1 by design; the scale win is that
    each query only scans its bucket (~N / 2^n_planes rows).

    The bucket expression is ONE parsed SQL string (the F.*-lambda form
    cost ~n_planes x dim py4j round trips to build — the module-header
    pathology; same ops, bit-identical buckets), and per-vector norms
    attach BEFORE the bucket join so each candidate pair computes one
    dot instead of re-deriving both norms (bit-identical — same fold,
    same values; the brute_force_topk discipline).
    """
    from pyspark.sql import Window

    planes = _pseudo_hyperplanes(dim, n_planes, seed)

    def bucket_sql(col: str) -> str:
        arr2d = "array(" + ",".join(_arr_sql(row) for row in planes) + ")"
        signs = (
            f"transform({arr2d}, pl -> CASE WHEN {_dot_sql('pl', col)} >= 0.0D "
            f"THEN 1 ELSE 0 END)"
        )
        return f"aggregate({signs}, 0, (acc, s) -> acc * 2 + s)"

    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _vec(vec_col).alias("__ev")
    ).select(
        "neighbor_id",
        "__ev",
        F.expr(bucket_sql("__ev")).alias("__bucket"),
        l2_norm(F.col("__ev")).alias("__en"),
    )
    q = queries.select(
        F.col(query_id_col), _vec(query_vec_col).alias("__qv")
    ).select(
        query_id_col,
        "__qv",
        F.expr(bucket_sql("__qv")).alias("__bucket"),
        l2_norm(F.col("__qv")).alias("__qn"),
    )

    cos = F.when((F.col("__qn") == 0) | (F.col("__en") == 0), F.lit(0.0)).otherwise(
        dot(F.col("__qv"), F.col("__ev")) / (F.col("__qn") * F.col("__en"))
    )
    scored = (
        e.join(F.broadcast(q), "__bucket")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            _maybe_round(cos, round_to).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def assign_cells(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    cell_col: str = "cell",
    n_assign: int = 1,
) -> DataFrame:
    """Map-only IVF cell assignment: adds ``cell_col`` = index of the
    argmax-cosine centroid (first-max tie-break, i.e. equal similarity
    resolves to the lowest cell index).

    The coarse quantizer is the ``n_cells`` lowest-id vectors — the same
    deterministic, oracle-replicable stand-in ``ivf_ann`` uses. Centroids
    are collected driver-side (n_cells x dim — control-plane-sized, the
    faiss deployment shape) and inlined as literals, so assignment adds
    ZERO shuffles: the full table is never joined, only mapped. This is
    the blocking front half of semantic dedup — downstream pair search is
    confined to within-cell candidates.

    ``n_assign > 1`` multi-assigns each vector to its top-``n_assign``
    cells (one output row per assignment — still map-only, an explode not
    a join). This is IVF multi-probe for DEDUP: a near-dup pair straddling
    a cell boundary is missed under single assignment, but co-occurs in a
    shared cell whenever either vector's probe list covers the other's
    best cell — recall rises at ~``n_assign``x candidate-pair cost.
    Downstream pair consumers must de-duplicate (a pair can share more
    than one cell).
    """
    cent_vecs, cent_norms = _coarse_centroids(embeddings, id_col, vec_col, n_cells)

    # Built as ONE parsed SQL expression (see _cells_sql): the F.*-lambda
    # form of this tree cost ~2.5 s of py4j chatter per call. NULL-vector
    # semantics per branch: n_assign=1 argmax maps NULL -> NULL cell via
    # array_position on a NULL max; the top-n branch needs the explicit
    # guard (NULL sims sort first and would assign rows to real cells).
    cells = _cells_sql(
        _vec_sql(vec_col), cent_vecs, cent_norms, n_assign, null_guard=True
    )
    return embeddings.withColumn(cell_col, F.explode(F.expr(cells)))


def embedding_stats(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Embedding-table quality panel: per group, count, L2-norm moments,
    zero-vector count, and dimension consistency.

    The pre-ANN sanity check for an embedding corpus: zero vectors poison
    cosine blocking (every zero pairs with everything at sim 0), mixed
    dimensions break dot products outright, and a collapsed norm range
    flags an un-normalized or degenerate encoder run.

    Determinism: per-row norm is a fixed left fold (row-local); the
    cross-row SUM quantizes each norm via ``stable_round(., 9)`` BEFORE
    the exact DECIMAL accumulation — norms are irrational doubles, so a
    raw double->decimal cast would round under each engine's own rule
    (the F.round divergence class; caught live on ext_class_separation's
    distance sums at sf0.01) — and the exact sum makes partial-aggregate
    merge order irrelevant. One shuffle on ``group_cols`` with map-side
    partial aggregation; output is |groups| rows.
    """
    from be_analytic_etl_spark.functions.rounding import stable_round
    group_cols = group_cols or []
    v = _vec(vec_col)
    norm = l2_norm(v)
    base = embeddings.select(
        *group_cols, norm.alias("__norm"), F.size(vec_col).alias("__dim")
    )
    return base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(stable_round(F.col("__norm"), 9).cast("decimal(28,9)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mean_norm"),
        F.min("__norm").alias("min_norm"),
        F.max("__norm").alias("max_norm"),
        F.sum(F.when(F.col("__norm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero"),
        F.min("__dim").alias("dim_min"),
        F.max("__dim").alias("dim_max"),
    )


def _py_dot(a: list[float], b: list[float]) -> float:
    """Driver-side dot with the SAME sequential left fold as dot() / the
    SQL oracle's list_reduce — bit-identical constants for inlining."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _coarse_centroids(
    embeddings: DataFrame, id_col: str, vec_col: str, n_cells: int
):
    """Driver-side coarse quantizer: the ``n_cells`` lowest-id vectors
    (deterministic, oracle-replicable stand-in for trained k-means) plus
    their norms, computed with the SAME left fold as ``dot()`` so the
    inlined literals are bit-identical to what the SQL oracle derives.
    Control-plane-sized collect (n_cells x dim)."""
    import math

    cent_rows = (
        # NULL vectors cannot seed centroids (a NULL-poisoned batch
        # would reach the driver-side float() loop as None)
        embeddings.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _vec(vec_col).alias("__v"))
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    )
    # Plan-time precondition (like the PQ codebook): an EMPTY corpus
    # would otherwise build a zero-length sims array whose SQL literal
    # no longer type-checks (NULL_TYPE array_position).
    if not cent_rows:
        raise ValueError(
            f"IVF coarse quantizer needs at least 1 vector (n_cells={n_cells}), got 0"
        )
    cent_vecs = [[float(x) for x in r["__v"]] for r in cent_rows]
    cent_norms = [math.sqrt(_py_dot(cv, cv)) for cv in cent_vecs]
    return cent_vecs, cent_norms


# --- PQ building blocks (shared by pq_ann and ivf_pq_ann) -------------------


def _pq_codebook(
    embeddings: DataFrame, id_col: str, vec_col: str, m: int, n_codes: int
):
    """Driver-side PQ codebook: per-subspace centroid lists + their
    precomputed squared norms, from the ``n_codes`` lowest-id vectors
    (the deterministic, oracle-replicable stand-in for trained k-means).
    Returns ``(cents, c2, sub)`` with ``cents[mm][j]`` the j-th codebook
    entry of subspace mm and ``sub`` the subvector length."""
    cb_rows = (
        embeddings.filter(F.col(vec_col).isNotNull())  # see _coarse_centroids
        .select(F.col(id_col), _vec(vec_col).alias("__v"))
        .orderBy(id_col)
        .limit(n_codes)
        .collect()
    )
    # Plan-time precondition (like clustering.kmeans): fail with a clear
    # message instead of an IndexError on a near-empty corpus.
    if len(cb_rows) < n_codes:
        raise ValueError(
            f"PQ codebook needs at least n_codes={n_codes} vectors, "
            f"got {len(cb_rows)}"
        )
    dim = len(cb_rows[0]["__v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cents = [
        [[float(x) for x in r["__v"][mm * sub : (mm + 1) * sub]] for r in cb_rows]
        for mm in range(m)
    ]
    c2 = [[_py_dot(c, c) for c in row] for row in cents]
    return cents, c2, sub


def _pq_codes_expr(
    vec_col: str, cents, c2, sub: int, m: int, n_codes: int
) -> Column:
    """Map-only PQ encode: ``codes[mm] = argmin_j (c2[mm][j] -
    2*<sub, cent>)`` — the code-independent ``||sub||^2`` term is
    dropped (ordering unchanged, ties still break to the lowest code).
    Built as SQL text — the F.*-lambda form of this m x n_codes tree was
    the measured py4j plan-build bottleneck (see the module header)."""
    v_sql = f"transform({vec_col}, __x -> CAST(__x AS DOUBLE))"

    def code_sql(mm: int) -> str:
        s = f"slice({v_sql}, {mm * sub + 1}, {sub})"
        scores = "array(" + ",".join(
            f"({c2[mm][j]!r}D - 2.0D * {_dot_sql(s, _arr_sql(cents[mm][j]))})"
            for j in range(n_codes)
        ) + ")"
        return f"CAST((array_position({scores}, array_min({scores})) - 1) AS INT)"

    return F.expr("array(" + ",".join(code_sql(mm) for mm in range(m)) + ")")


def _pq_adc_expr(
    query_vec_col: str, cents, c2, sub: int, m: int, n_codes: int
) -> Column:
    """Per-query ADC lookup table: ``adc[mm][j] = ||q_sub -
    cent[mm][j]||^2`` as column expressions (no driver-side collect of
    queries)."""
    qv_sql = f"transform({query_vec_col}, __x -> CAST(__x AS DOUBLE))"

    def adc_sql(mm: int, j: int) -> str:
        s = f"slice({qv_sql}, {mm * sub + 1}, {sub})"
        return (
            f"(({_dot_sql(s, s)} - 2.0D * {_dot_sql(s, _arr_sql(cents[mm][j]))})"
            f" + {c2[mm][j]!r}D)"
        )

    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(adc_sql(mm, j) for j in range(n_codes)) + ")"
            for mm in range(m)
        )
        + ")"
    )


def _pq_score_topk(cand: DataFrame, query_id_col: str, m: int, k: int) -> DataFrame:
    """ADC scoring + per-query top-k over candidate (query, vector) rows
    carrying ``__adc`` and ``__codes``: 4 array lookups per pair, folded
    in subspace order from a 0.0 seed so the oracle replays the sum
    bit-for-bit; then one row_number window."""
    from pyspark.sql import Window

    dist = F.lit(0.0)
    for mm in range(m):
        dist = dist + F.element_at(
            F.element_at("__adc", mm + 1), F.element_at("__codes", mm + 1) + 1
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id")
    )
    return (
        cand.select(query_id_col, "neighbor_id", dist.alias("approx_dist"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def pq_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    m: int = 4,
    n_codes: int = 8,
    k: int = 5,
) -> DataFrame:
    """Product-quantization ANN (Jegou/Douze/Schmid, "Product quantization
    for nearest neighbor search", TPAMI 2011): split every vector into
    ``m`` subvectors, quantize each against an ``n_codes``-entry codebook
    (argmin L2), then answer queries with the **asymmetric distance
    computation (ADC)** scan — exact query subvectors against coded
    database vectors, distance = sum over subspaces of
    ``||q_sub - centroid[code]||^2``.

    The faiss deployment shape, re-expressed for Spark:

    - the codebook is tiny and lives in the PLAN (subvectors of the
      ``n_codes`` lowest-id vectors — the same deterministic,
      oracle-replicable stand-in for trained k-means that ``ivf_ann``
      uses; centroids are inlined as literals);
    - **encoding is map-only** — argmin over ``n_codes`` literal-centroid
      scores per subspace, no join, no shuffle; the encoded table is
      ``m`` small ints per vector (the 100 TB win: the scan reads codes,
      never raw vectors);
    - each query row carries its m x n_codes ADC lookup table, built as
      column expressions (no driver-side collect of queries); the scan is
      one broadcast cross join + 4 array lookups per (query, vector) —
      map-only until the final top-k window.

    Argmin drops the code-independent ``||sub||^2`` term (ordering is
    unchanged, ties still break to the lowest code). ADC distances fold
    in subspace order from a 0.0 seed so the oracle can replay them
    bit-for-bit. At scale, use ``ivf_pq_ann`` (below), which restricts
    this scan to the query's probed IVF cells; the standalone form is the
    isolation check for the PQ math.
    """
    cents, c2, sub = _pq_codebook(embeddings, id_col, vec_col, m, n_codes)

    db = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _pq_codes_expr(vec_col, cents, c2, sub, m, n_codes).alias("__codes"),
    )
    qdf = queries.select(
        F.col(query_id_col),
        _pq_adc_expr(query_vec_col, cents, c2, sub, m, n_codes).alias("__adc"),
    )

    # --- ADC scan: broadcast queries, 4 lookups + seeded in-order sum ----
    cand = db.crossJoin(F.broadcast(qdf)).filter(
        F.col(query_id_col) != F.col("neighbor_id")
    )
    return _pq_score_topk(cand, query_id_col, m, k)


def ivf_pq_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ: the ADC scan of ``pq_ann`` restricted to each query's
    probed coarse cells — the composition faiss deploys as IndexIVFPQ
    (Jegou et al., TPAMI 2011, SS.V) and the shape that scales: per query
    the scan touches ~``n_probe/n_cells`` of the corpus instead of all of
    it, and what it reads per vector is ``m`` code bytes, never the raw
    embedding.

    Plan shape (the point of the composition): database vectors get a
    map-only cell assignment + PQ encode in ONE pass; queries explode to
    ``n_probe`` (cell, ADC-table) rows and BROADCAST; the scan is a
    broadcast HASH join on ``cell`` — an equi-join, not the corpus-wide
    broadcast nested loop of standalone ``pq_ann``. A database vector
    lives in exactly one cell and a query probes distinct cells, so each
    (query, neighbor) pair is scored at most once — no dedup stage.

    Both quantizers are the deterministic lowest-id stand-ins (coarse:
    ``n_cells`` vectors, codebook: ``n_codes`` vectors), so a SQL oracle
    can replay cells, codes, and ADC sums bit-for-bit. Recall follows
    IVF: a true neighbor in an unprobed cell is missed; raise ``n_probe``
    to trade cost for recall.
    """
    cent_vecs, cent_norms = _coarse_centroids(embeddings, id_col, vec_col, n_cells)
    cents, c2, sub = _pq_codebook(embeddings, id_col, vec_col, m, n_codes)

    def probe(col: str, n: int) -> Column:
        return F.expr(
            _cells_sql(
                _vec_sql(col), cent_vecs, cent_norms, n, null_guard=False, ranked=True
            )
        )

    # NULL embeddings are excluded EXPLICITLY (a NULL cell would be
    # silently dropped by the equi-join here, while a SQL oracle's
    # ROW_NUMBER ... NULLS LAST would still assign it a real cell —
    # an engine divergence; oracles must mirror this filter).
    db = embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.element_at(probe(vec_col, 1), 1).alias("cell"),
        _pq_codes_expr(vec_col, cents, c2, sub, m, n_codes).alias("__codes"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.explode(probe(query_vec_col, n_probe)).alias("cell"),
        _pq_adc_expr(query_vec_col, cents, c2, sub, m, n_codes).alias("__adc"),
    )
    cand = db.join(F.broadcast(q), "cell").filter(
        F.col(query_id_col) != F.col("neighbor_id")
    )
    return _pq_score_topk(cand, query_id_col, m, k)


def rrf_fuse(
    ranked: list[DataFrame],
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    out_names: list[str] | None = None,
    k: int = 60,
) -> DataFrame:
    """Reciprocal rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009) of
    N ranked candidate lists — the standard hybrid-retrieval combiner
    (BM25 keyword list + dense ANN list) that needs no score calibration
    because it consumes only ranks: rrf(d) = sum_i 1/(k + rank_i(d)).

    Input frames each carry (id_col, rank_col) with NON-NULL ids (they
    come from row_number'd retrieval lists); a document absent from a
    list contributes 0 to the sum. Output: the union of all lists with
    one nullable rank column per input (``out_names``), ``rrf_score``,
    and ``fused_rank`` (dense ordering by score desc, id asc).

    Cross-engine determinism: each term is one IEEE division of exact
    small integers (1.0 / (k + rank)) and the fold is a fixed left-to-
    right chain of adds — bit-identical in any engine, so ``rrf_score``
    is emitted raw.

    Scale shape: every input list is already top-k'd (bounded by its
    retriever's depth), so the outer joins and the single-partition
    fused_rank window touch at most sum_i(depth_i) rows per query —
    driver-safe at any corpus size. Fusing many queries at once would
    partition the window by query id instead.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    if out_names is None:
        out_names = [f"rank_{i}" for i in range(len(ranked))]
    if len(out_names) != len(ranked):
        raise ValueError(
            f"out_names has {len(out_names)} names for {len(ranked)} lists"
        )
    fused: DataFrame | None = None
    for df, name in zip(ranked, out_names):
        cur = df.select(F.col(id_col), F.col(rank_col).alias(name))
        fused = cur if fused is None else fused.join(cur, id_col, "full_outer")
    score: Column = F.lit(0.0)
    for name in out_names:
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(float(k)) + F.col(name).cast("double")),
            F.lit(0.0),
        )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    return (
        fused.withColumn("rrf_score", score)
        .withColumn("fused_rank", F.row_number().over(w))
    )
