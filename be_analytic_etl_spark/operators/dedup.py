"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Algorithms follow the published literature: MinHash resemblance sketches
(Broder, "On the resemblance and containment of documents", SEQUENCES
1997), banded LSH (Indyk & Motwani, STOC 1998; banding scheme as in
Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" ch. 3), SimHash
(Charikar, "Similarity estimation techniques from rounding algorithms",
STOC 2002; chunk-based hamming search as in Manku/Jain/Das Sarma, WWW
2007), and the inverted-index exact set-similarity join (Vernica/Carey/Li,
"Efficient parallel set-similarity joins using MapReduce", SIGMOD 2010).

Designed for the 100 TB training-data case:

- **Exact** dedup is a hash groupBy on the text (or its md5 — cheaper
  shuffle payload at scale: 16 bytes instead of the document).
- **MinHash-LSH**: shingle -> k minhashes (higher-order array expressions,
  all JVM-side) -> band buckets -> shuffle only on (band, band_hash) ->
  candidate pairs within buckets -> exact Jaccard verification. The
  shuffle never carries full documents, only (doc_id, signature).
- **SimHash**: one explode + one groupBy with 64 conditional sums — two
  shuffles on doc_id, constant memory per doc.
- **n-gram Jaccard** is the exact verifier, also exposed standalone with
  configurable blocking.

Skew guard: LSH buckets larger than ``max_bucket`` are dropped (a bucket
with thousands of docs is a degenerate hash collision — at scale it would
produce a quadratic pair explosion; the docs it contains are still covered
by their other bands).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.sqltext import quote_ident
from be_analytic_etl_spark.operators.textstats import (
    PORTABLE_P,
    _word_ngrams_sql,
    fingerprint_md5,
    tokenize,
    word_ngrams,
)


# --- exact -----------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """R6 twin: drop exact duplicates over ``cols`` (default: all)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def exact_dedup_keep_min(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical texts, keep the smallest id as the canonical doc.

    Shuffles on md5(text) (16-byte key) rather than the document itself.
    """
    fp = F.md5(F.col(text_col).cast("binary")).alias("__fp")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .drop("__fp")
    )


# --- MinHash ---------------------------------------------------------------


def portable_affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the universal hash family
    h_i(x) = (a_i * base(x) + b_i) mod p. Knuth-style multiplicative
    constants; a_i != 0."""
    return [
        (
            (i * 2_654_435_761 + 1_640_531_527) % (PORTABLE_P - 1) + 1,
            (i * 97_003_969 + 49_979_687) % PORTABLE_P,
        )
        for i in range(num_hashes)
    ]


def _minhash_sql(c: str, num_hashes: int, shingle_n: int, portable: bool) -> str:
    """The k-minhash signature of the SQL expression ``c`` as SQL text.

    ``hs`` is the per-shingle array, let-bound by a single-element
    transform so that every slot reads the SAME evaluated array (without
    it, each of the k slots re-inlines the shingle tree — measured ~8x
    overcomputation). The two hash families differ in two pieces only:
    the per-shingle value (the shingle itself, or its portable md5 base)
    and the slot hash (seeded xxhash64, or the affine map of the base).
    """
    shingles = _word_ngrams_sql(c, shingle_n)
    if portable:
        base = (
            "CAST(conv(substring(md5(CAST(s AS BINARY)), 1, 15), 16, 10) AS BIGINT)"
            f" % {PORTABLE_P}"
        )
        per_shingle = f"transform({shingles}, s -> {base})"
        slots = "array(" + ",".join(
            f"named_struct('a', {a}, 'b', {b})"
            for a, b in portable_affine_params(num_hashes)
        ) + ")"
        slot_hash = f"(h * slot.a + slot.b) % {PORTABLE_P}"
    else:
        per_shingle = shingles
        slots = f"sequence(0, {num_hashes - 1})"
        slot_hash = "xxhash64(h, slot)"
    per_slot = (
        f"transform({slots}, slot -> array_min(transform(hs, h -> {slot_hash})))"
    )
    return f"element_at(transform(array({per_shingle}), hs -> {per_slot}), 1)"


def minhash_signature(
    col: str, num_hashes: int = 32, shingle_n: int = 3, portable: bool = False
) -> Column:
    """k-minhash signature (array<long>) over the word n-gram shingles of
    the column named ``col``.

    sig[i] = min over shingles of hash_i(shingle). Pure array expressions —
    no UDF, no Python boundary — parsed from one SQL text in one py4j
    round trip.

    ``portable=True``: hash_i = (a_i * md5base(shingle) + b_i) mod p —
    one md5 per shingle, k affine transforms, replicable bit-for-bit by a
    SQL oracle. Default: k seeded xxhash64 (fastest JVM path).
    """
    return F.expr(_minhash_sql(quote_ident(col), num_hashes, shingle_n, portable))


def band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """LSH banding table: one (__id, band, bucket) row per document band.

    Two docs are LSH candidates iff they share a (band, bucket) row — this
    table IS the near-dup index (at scale it's what you persist between
    incremental runs). ``portable=True`` keeps the bucket as the band's
    signature-slice string — exactly reproducible by a SQL oracle with no
    hash-collision caveat; default hashes the slice to 8 bytes (xxhash64)
    for the cheapest shuffle payload. Collisions only ever ADD candidates,
    and callers verify candidates with exact Jaccard.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}) — "
            "a remainder would silently discard trailing signature slots"
        )
    rows_per_band = num_hashes // bands
    # The whole banding tree is one SQL text; the signature let-binds so
    # the per-band lambda slices ONE evaluated array.
    sig_sql = _minhash_sql(quote_ident(text_col), num_hashes, shingle_n, portable)
    band = f"concat_ws(',', slice(sg, b * {rows_per_band} + 1, {rows_per_band}))"
    bucket = band if portable else f"xxhash64({band}, b)"
    band_structs = F.expr(
        f"element_at(transform(array({sig_sql}), sg -> "
        f"transform(sequence(0, {bands - 1}), "
        f"b -> named_struct('band', b, 'bucket', {bucket}))), 1)"
    )
    return df.select(
        F.col(id_col).alias("__id"), F.explode(band_structs).alias("bb")
    ).select(
        "__id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 1000,
    portable: bool = False,
    round_to: int | None = 4,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact-Jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    Persisted intermediates (banded table, shingle sets) are cached until
    GC of the returned plan; for eager cleanup in a long-lived session,
    produce AND consume inside ``session.cached_scope(spark)`` (bench.py
    does this per query).
    """
    from pyspark import StorageLevel

    # The bucket join moves ONLY (id, band, bucket) — never shingles or
    # documents. Shingle sets re-join after candidate-pair dedup, so the
    # heavy payload crosses the wire once per *candidate*, not once per
    # (doc, band).
    # Persist the banded table: it feeds the skew guard AND both sides of
    # the bucket self-join — without a persist each reference re-runs the
    # whole shingle+k-hash signature pass (3x overcompute, measured).
    # Tiny payload (id, band, bucket per doc-band); spills if not.
    banded = band_buckets(
        df,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        portable=portable,
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # Skew guard: drop degenerate buckets before the self-join. Computed
    # EAGERLY so this aggregate is the pass that fills banded's cache —
    # the r13 blanket ``banded.count()`` added a whole extra
    # materialization pass instead and measurably regressed every LSH
    # consumer (r13 verdict item 1); making the first REAL consumer
    # sequential gets the same race-free cache fill for free.
    kept = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= max_bucket)
        .select("band", "bucket")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # count() on the TINY kept frame is the eager fill: computing it runs
    # the aggregate over banded exactly once, which materializes banded's
    # cache as a side effect. persist (not localCheckpoint) keeps lineage
    # so executor loss recomputes instead of failing, and cached_scope
    # releases it. The filled cache reports kept's real size, so the
    # planner broadcasts it only within autoBroadcastJoinThreshold and
    # shuffles it otherwise: kept has up to docs x bands rows.
    kept.count()
    banded = banded.join(kept, ["band", "bucket"])

    left = banded.select(F.col("band"), F.col("bucket"), F.col("__id").alias("id_a"))
    right = banded.select(F.col("band"), F.col("bucket"), F.col("__id").alias("id_b"))
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    # Shingle sets are read twice (id_a join, id_b join): persist so the
    # tokenize+shingle pass runs once. Proportional to the corpus; spills.
    shingle_sets = df.select(
        F.col(id_col).alias("__sid"),
        word_ngrams(text_col, shingle_n).alias("__sh"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # No eager fill: the id_a/id_b joins are stages of ONE action and the
    # block-manager dedupes per-partition cache computation; the r13
    # blanket count() here was measured pure cost (r13 verdict item 1).
    cand = (
        cand.join(shingle_sets, cand.id_a == shingle_sets.__sid)
        .select("id_a", "id_b", F.col("__sh").alias("sh_a"))
        .join(shingle_sets, F.col("id_b") == shingle_sets.__sid)
        .select("id_a", "id_b", "sh_a", F.col("__sh").alias("sh_b"))
    )

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union)
    jac = F.round(jac, round_to) if round_to is not None else jac
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- SimHash ---------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """SimHash per document: 64-bit (xxhash64, the scale path) or 60-bit
    with ``portable=True`` (md5-head hash both engines compute identically,
    so a DuckDB oracle can replicate every bit — same pattern as minhash).

    explode tokens -> hash once per token -> one conditional sum per bit in
    ONE groupBy (partial agg map-side) -> reassemble bits. Returns
    (id_col, simhash long).
    """
    from be_analytic_etl_spark.operators.textstats import portable_hash60

    n_bits = 60 if portable else 64
    tok_hash = (
        portable_hash60(F.col("__tok")) if portable else F.xxhash64("__tok")
    )
    toks = df.select(
        F.col(id_col), F.explode_outer(tokenize(text_col)).alias("__tok")
    ).withColumn("__h", tok_hash)
    # Both the n_bits conditional sums and the bit reassembly are built as
    # SQL text (2 parsed expressions total): composing ~60 when-chains
    # Column-by-Column cost ~1.4 s of py4j round trips per call (the same
    # Python-side build bottleneck pq_ann had). Operation-for-operation
    # identical semantics — CASE twins of the original when-chains.
    bits_arr = (
        "array("
        + ",".join(
            f"sum(CASE WHEN __tok IS NULL THEN 0 "
            f"WHEN (shiftright(__h, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
            for i in range(n_bits)
        )
        + ")"
    )
    agg = toks.groupBy(id_col).agg(F.expr(bits_arr).alias("__bits"))
    terms = " + ".join(
        "IF(__bits[{i}] > 0, {v}, CAST(0 AS BIGINT))".format(
            i=i,
            v=f"CAST({2**i} AS BIGINT)"
            if i < 63
            else "(CAST(-9223372036854775807 AS BIGINT) - CAST(1 AS BIGINT))",
        )
        for i in range(n_bits)
    )
    return agg.select(
        F.col(id_col), F.expr(f"CAST(0 AS BIGINT) + {terms}").alias("simhash")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    portable: bool = False,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the hash bits into 4 chunks
    (pigeonhole: hamming<=3 pairs share at least one exact chunk), bucket-join
    on chunks, verify true hamming distance.

    ``max_bucket`` is the flood guard the minhash-LSH path always had
    and this path was missing (caught by the round-11 duplicate-bomb
    probe): a crawl-duplicate flood puts every copy in the SAME four
    chunk buckets, so the candidate join is C(n, 2) — quadratic in the
    flood size. Buckets with more than ``max_bucket`` members are
    skipped, exactly like LSH's ``kept`` filter; an exact-duplicate
    flood is exact dedup's job (run first, as the pipeline composer
    does), and a >1000-member *near*-dup chunk bucket on real data
    means the chunk carries no discriminating bits for that cluster.

    The persisted simhash table stays cached until GC of the returned plan
    (``session.cached_scope`` for eager cleanup)."""
    from pyspark import StorageLevel

    # chunks feed both sides of the bucket self-join; persist so the
    # explode+bit-sum simhash aggregation runs once, not twice.
    sh = simhash(df, text_col, id_col, portable=portable).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return _simhash_chunk_pairs(sh, id_col, max_hamming, portable, max_bucket)


def _simhash_chunk_pairs(
    sh: DataFrame,
    id_col: str,
    max_hamming: int,
    portable: bool,
    max_bucket: int,
) -> DataFrame:
    """(id_a, id_b, hamming) near-dup pairs from a persisted ``simhash``
    table: explode each fingerprint into 4 chunks, drop chunk buckets
    larger than ``max_bucket`` (the flood guard), self-join on equal
    chunks, verify the true hamming distance. Computes the flood guard
    eagerly, which fills ``sh``'s cache."""
    from pyspark import StorageLevel

    chunk_bits = (60 if portable else 64) // 4
    chunk_mask = (1 << chunk_bits) - 1
    # No blanket count: the flood-guard aggregate below is computed
    # eagerly, so IT is the (single, sequential) pass that fills
    # sh's cache — the r13 count() here was an extra full pass (r13
    # verdict item 1, same fix as minhash_lsh_pairs).
    chunks = sh.select(
        F.col(id_col).alias("__id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit(chunk_mask))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("__id", "simhash", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk").alias("chunk"))
    kept = (
        chunks.groupBy("chunk_id", "chunk")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") <= max_bucket)
        .drop("__bn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # eager fill via the tiny kept frame (see minhash_lsh_pairs): one
    # pass that also materializes sh's cache; released by cached_scope.
    # Sized by the filled cache, kept broadcasts only within the threshold.
    kept.count()
    chunks = chunks.join(kept, ["chunk_id", "chunk"])
    left = chunks.select("chunk_id", "chunk", F.col("__id").alias("id_a"), F.col("simhash").alias("sh_a"))
    right = chunks.select("chunk_id", "chunk", F.col("__id").alias("id_b"), F.col("simhash").alias("sh_b"))
    cand = (
        left.join(right, ["chunk_id", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- benchmark decontamination ---------------------------------------------


def ngram_contamination(
    df: DataFrame,
    bench: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    ngram_n: int = 8,
) -> DataFrame:
    """Training-set decontamination: flag corpus documents sharing any word
    n-gram with a benchmark/eval document — the standard n-gram-collision
    check run before training (8-gram overlap, as popularized by the
    GPT-3/PaLM decontamination appendices).

    Plan shape for 100 TB: both sides explode to DISTINCT (id, gram-hash)
    pairs — 8-byte portable hashes, never gram strings, cross the shuffle —
    and the benchmark side is tiny (an eval suite), so the join broadcasts:
    the corpus is scanned once, map-only. Returns
    (id_col, n_shared_grams, n_bench_docs) for contaminated docs only;
    self-matches (a benchmark doc vs itself) are excluded.
    """
    hits = _contamination_hits(
        df,
        bench,
        text_col=text_col,
        id_col=id_col,
        bench_id_col=bench_id_col,
        ngram_n=ngram_n,
    )
    return hits.groupBy(F.col("__cid").alias(id_col)).agg(
        F.countDistinct("__h").alias("n_shared_grams"),
        F.countDistinct("__bid").alias("n_bench_docs"),
    )


def _contamination_hits(
    df: DataFrame,
    bench: DataFrame,
    *,
    text_col: str,
    id_col: str,
    bench_id_col: str,
    ngram_n: int,
) -> DataFrame:
    """(__cid, __h, __bid) collision rows — the shared front half of the
    audit (per-doc counts) and the operational filter (distinct ids)."""
    from be_analytic_etl_spark.operators.textstats import portable_hash60

    def grams(frame: DataFrame, ident: str, out_id: str) -> DataFrame:
        return (
            frame.select(
                F.col(ident).alias(out_id),
                F.explode(word_ngrams(text_col, ngram_n)).alias("__g"),
            )
            .select(out_id, portable_hash60(F.col("__g")).alias("__h"))
            .dropDuplicates([out_id, "__h"])
        )

    cg = grams(df, id_col, "__cid")
    bg = grams(bench, bench_id_col, "__bid")
    return cg.join(F.broadcast(bg), "__h").filter(F.col("__cid") != F.col("__bid"))


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    ngram_n: int = 8,
) -> DataFrame:
    """Operational decontamination: the corpus MINUS every document
    ``ngram_contamination`` flags — what a training pipeline actually
    ships, where the flag query is the audit report.

    One LEFT ANTI join against the flagged-id set (|contaminated| rows,
    benchmark-sized not corpus-sized — broadcastable); all other columns
    pass through untouched. Benchmark members drawn from the corpus
    survive unless they collide with a DIFFERENT benchmark doc
    (self-matches were already excluded by the flag query).

    Only DISTINCT flagged ids are computed — not the audit query's
    per-doc countDistinct aggregation, which the anti join would throw
    away (a multi-distinct Expand over the corpus-sized hit set).
    """
    flagged = (
        _contamination_hits(
            df,
            bench,
            text_col=text_col,
            id_col=id_col,
            bench_id_col=bench_id_col,
            ngram_n=ngram_n,
        )
        .select(F.col("__cid").alias(id_col))
        .dropDuplicates()
    )
    return df.join(F.broadcast(flagged), id_col, "left_anti")


# --- n-gram Jaccard (exact, blocked) --------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
    round_to: int | None = 4,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within blocks, computed as
    an inverted-index set-similarity join (VernicaJoin-style).

    Rather than self-joining full shingle *arrays* (which ships kilobytes
    per candidate pair — measured multi-GB shuffle at sf0.1 for 70 result
    rows), explode to (block, shingle-hash, id, set-size), self-join on the
    8-byte shingle hash, and count co-occurrences: the count IS the
    intersection size, and ``union = |A| + |B| - inter`` since shingle sets
    are distinct. Join traffic is one row per shared shingle occurrence —
    Σ freq² per shingle — instead of |pairs| × both arrays.

    ``block_cols`` keys the join (at scale: LSH buckets or cheap keys like
    (lang, length-band)); unblocked, every shared shingle pairs globally —
    still exact, but only for modest corpora.

    Requires ``threshold > 0``: pairs sharing zero shingles (including
    empty documents) never materialize, which is exactly the J=0 set.
    """
    if threshold <= 0:
        raise ValueError("threshold must be > 0 (J=0 pairs never materialize)")
    blocks = list(block_cols or [])
    tok = df.select(
        *blocks,
        F.col(id_col).alias("__id"),
        word_ngrams(text_col, shingle_n).alias("__sh"),
    ).select(
        *blocks,
        "__id",
        F.size("__sh").alias("__sz"),
        F.explode("__sh").alias("__g"),
    ).withColumn("__g", F.xxhash64("__g"))

    left = tok.select(
        *blocks, "__g", F.col("__id").alias("id_a"), F.col("__sz").alias("sz_a")
    )
    right = tok.select(
        *blocks, "__g", F.col("__id").alias("id_b"), F.col("__sz").alias("sz_b")
    )
    co = (
        left.join(right, [*blocks, "__g"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy(*blocks, "id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    inter = F.col("__c")
    union = F.col("sz_a") + F.col("sz_b") - inter
    jac = inter.cast("double") / union
    jac = F.round(jac, round_to) if round_to is not None else jac
    return (
        co.select(*blocks, "id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def chunk_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 10,
) -> DataFrame:
    """Aligned-chunk exact substring dedup census (the scalable core of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022 — their suffix-array spans, restricted to fixed
    token-aligned chunks so the match test is a hash equality).

    Every document is cut into consecutive ``chunk_tokens``-token chunks;
    a chunk *survives* iff it is the corpus-wide first occurrence of its
    content (ordered by (id, chunk_idx) — deterministic). Returns per
    document: ``(id_col, n_chunks, n_kept, dup_ratio)`` where
    ``dup_ratio = (n_chunks - n_kept) / n_chunks`` (0.0 for empty docs).

    Scale: the shuffle carries ``(md5(chunk), id, idx)`` — 16-byte hashes,
    never text. First-occurrence is one window over the chunk hash (same
    single shuffle as a groupBy); per-doc stats partial-aggregate on the
    id. At 100 TB this is exactly the layout of a production span-dedup:
    chunk table ∝ corpus tokens / chunk_tokens, each row a few dozen
    bytes.
    """
    from be_analytic_etl_spark.operators.textstats import tokenize

    from pyspark.sql import Window

    toks = tokenize(text_col)
    n_chunks_expr = F.ceil(F.size("__toks") / F.lit(chunk_tokens)).cast("int")
    chunks = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(
            id_col,
            F.posexplode_outer(
                F.when(
                    F.size("__toks") > 0,
                    F.expr(
                        f"transform(sequence(0, cast(ceil(size(__toks) / {chunk_tokens}) as int) - 1), "
                        f"i -> array_join(slice(__toks, i * {chunk_tokens} + 1, {chunk_tokens}), ' '))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("idx", "chunk"),
        )
    )
    w = Window.partitionBy(F.md5(F.col("chunk").cast("binary"))).orderBy(
        F.col(id_col), F.col("idx")
    )
    marked = chunks.withColumn(
        "__keep",
        F.when(F.col("chunk").isNull(), F.lit(None).cast("int")).otherwise(
            F.when(F.row_number().over(w) == 1, 1).otherwise(0)
        ),
    )
    return marked.groupBy(id_col).agg(
        F.count("chunk").cast("int").alias("n_chunks"),
        F.coalesce(F.sum("__keep"), F.lit(0)).cast("int").alias("n_kept"),
        F.when(F.count("chunk") == 0, F.lit(0.0))
        .otherwise(
            (F.count("chunk") - F.sum("__keep")).cast("double") / F.count("chunk")
        )
        .alias("dup_ratio"),
    )


def incremental_dedup_status(
    new_docs: DataFrame,
    old_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    portable: bool = False,
) -> DataFrame:
    """Classify each NEW document against an already-ingested corpus:
    ``exact_dup`` (normalized-text fingerprint already present),
    ``near_dup`` (shares an LSH band bucket with an old doc AND exact
    n-gram Jaccard >= threshold), else ``unique``.

    This is the dedup shape of a RUNNING crawl pipeline — each batch
    checks against the historical index instead of re-deduping the whole
    corpus. At 100 TB the two old-side tables (fingerprint set,
    ``band_buckets`` index) are incremental state: persist them once,
    append each batch's rows, and each new batch joins new-side tables
    (batch-sized) against them — cost ∝ batch, not corpus. Shuffles carry
    fingerprints and (id, band, bucket) only; full text never moves.
    Exact-dup precedence: an exact dup is also an LSH candidate; the
    status CASE reports the stronger signal.
    """
    fp = fingerprint_md5(text_col)
    fp_new = new_docs.select(F.col(id_col).alias("__id"), fp.alias("__fp"))
    fp_old = old_docs.select(fp.alias("__fp")).dropDuplicates()
    exact_ids = (
        fp_new.join(fp_old, "__fp", "left_semi")
        .select("__id")
        .withColumn("__exact", F.lit(True))
    )

    kw = dict(
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n, portable=portable
    )
    nb = band_buckets(new_docs, text_col, id_col, **kw)
    ob = band_buckets(old_docs, text_col, id_col, **kw).select(
        F.col("__id").alias("__old_id"), "band", "bucket"
    )
    cand = (
        nb.join(ob, ["band", "bucket"])
        .select("__id", "__old_id")
        .dropDuplicates(["__id", "__old_id"])
    )
    sh_new = new_docs.select(
        F.col(id_col).alias("__sid"), word_ngrams(text_col, shingle_n).alias("__sh")
    )
    sh_old = old_docs.select(
        F.col(id_col).alias("__soid"),
        word_ngrams(text_col, shingle_n).alias("__osh"),
    )
    inter = F.size(F.array_intersect("__sh", "__osh"))
    union = F.size(F.array_union("__sh", "__osh"))
    jac = F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union)
    near_ids = (
        cand.join(sh_new, cand.__id == sh_new.__sid)
        .join(sh_old, cand.__old_id == sh_old.__soid)
        .filter(jac >= jaccard_threshold)
        .select("__id")
        .dropDuplicates()
        .withColumn("__near", F.lit(True))
    )

    return (
        new_docs.select(F.col(id_col))
        .join(exact_ids.withColumnRenamed("__id", id_col), id_col, "left")
        .join(near_ids.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            id_col,
            F.when(F.col("__exact"), F.lit("exact_dup"))
            .when(F.col("__near"), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("status"),
        )
    )


def lsh_recall_estimate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    sample_buckets: int = 300,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    portable: bool = False,
) -> DataFrame:
    """Measured recall/precision of THIS LSH configuration, from a
    deterministic document sample — the tuning instrument for the
    (num_hashes, bands, threshold) tradeoff.

    On a hash-selected sample (``sample_buckets``/10000 of documents,
    salt-keyed so reruns see the same docs), computes ground truth by
    exact all-pairs Jaccard — quadratic, but in the SAMPLE only, which is
    the point: the sample is sized to make the exact baseline affordable
    while the estimate transfers to the full corpus (pair survival depends
    only on the two documents' shingle sets, not corpus size; band
    collisions from OTHER documents only add candidates). LSH candidates
    are the band-bucket pairs *before* Jaccard verification, so precision
    here prices the wasted verification work, and recall prices missed
    true pairs — verified-pair output always has precision 1 by
    construction.

    Returns ONE row: (n_sample, n_truth, n_cand, n_hit, recall,
    candidate_precision). Recall is 1.0 when the sample holds no true
    pair (nothing to miss).
    """
    from pyspark import StorageLevel

    from be_analytic_etl_spark.operators.sampling import hash_bucket

    # The sample feeds three consumers (shingle pairs, banding, the size
    # count); persist so the documents scan + hash filter run once. It is
    # broadcast-sized by construction.
    sample = (
        df.filter(hash_bucket(F.col(id_col), "lshrecall") < sample_buckets)
        .select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # No eager count: the consumers are legs of one action tree and the
    # sample is broadcast-sized; the r13 blanket count() was measured
    # pure cost (r13 verdict item 1).

    shing = sample.select(
        F.col("__id"), word_ngrams("__text", shingle_n).alias("__sh")
    )
    a = shing.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = shing.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    # exact all-pairs baseline, confined to the broadcast-sized sample
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union)
    truth = pairs.filter(jac >= jaccard_threshold).select("id_a", "id_b")

    banded = band_buckets(
        sample,
        "__text",
        "__id",
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        portable=portable,
    )
    la = banded.select("band", "bucket", F.col("__id").alias("id_a"))
    lb = banded.select("band", "bucket", F.col("__id").alias("id_b"))
    cand = (
        la.join(lb, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    # One full-outer flag join scores truth and candidates in a single
    # pass each — four independent count branches would re-evaluate the
    # quadratic truth subtree and the banding subtree twice apiece.
    t = truth.withColumn("__t", F.lit(1))
    c = cand.withColumn("__c", F.lit(1))
    scored = t.join(c, ["id_a", "id_b"], "full_outer")
    metrics = scored.agg(
        F.coalesce(F.sum("__t"), F.lit(0)).alias("n_truth"),
        F.coalesce(F.sum("__c"), F.lit(0)).alias("n_cand"),
        F.coalesce(F.sum(F.col("__t") * F.col("__c")), F.lit(0)).alias("n_hit"),
    )
    n_sample = sample.select(F.count(F.lit(1)).alias("n_sample"))
    out = n_sample.crossJoin(metrics)
    return out.select(
        "n_sample",
        "n_truth",
        "n_cand",
        "n_hit",
        F.when(F.col("n_truth") == 0, F.lit(1.0))
        .otherwise(F.col("n_hit").cast("double") / F.col("n_truth"))
        .alias("recall"),
        F.when(F.col("n_cand") == 0, F.lit(1.0))
        .otherwise(F.col("n_hit").cast("double") / F.col("n_cand"))
        .alias("candidate_precision"),
    )


def lsh_band_tuning(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    sample_buckets: int = 300,
    num_hashes: int = 8,
    band_options: tuple[int, ...] = (1, 2, 4, 8),
    shingle_n: int = 3,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """The S-curve, measured: candidate recall and precision of EVERY
    banding of one MinHash signature, on the same deterministic sample
    ``lsh_recall_estimate`` uses — one row per (bands, rows_per_band)
    config. This is the table you read before picking a production
    (bands, rows) point: more bands -> higher recall, lower precision.

    One signature pass serves all configs (a b-band candidate test is
    "any of the b signature slices match", computed per pair from the
    same two signature arrays); the quadratic pair scoring happens once,
    with all configs' flags aggregated in the same pass. Sample-confined
    like the recall estimator — tuning cost is fixed, independent of
    corpus size.
    """
    from pyspark import StorageLevel

    from be_analytic_etl_spark.operators.sampling import hash_bucket

    for b in band_options:
        if num_hashes % b != 0:
            raise ValueError(f"bands={b} does not divide num_hashes={num_hashes}")

    sample = (
        df.filter(hash_bucket(F.col(id_col), "lshrecall") < sample_buckets)
        .select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # No eager count: the consumers are legs of one action tree and the
    # sample is broadcast-sized; the r13 blanket count() was measured
    # pure cost (r13 verdict item 1).
    base = sample.select(
        "__id",
        word_ngrams("__text", shingle_n).alias("__sh"),
        minhash_signature(
            "__text", num_hashes, shingle_n, portable=True
        ).alias("__sig"),
    )
    a = base.select(
        F.col("__id").alias("id_a"),
        F.col("__sh").alias("sh_a"),
        F.col("__sig").alias("sig_a"),
    )
    b_ = base.select(
        F.col("__id").alias("id_b"),
        F.col("__sh").alias("sh_b"),
        F.col("__sig").alias("sig_b"),
    )
    pairs = a.join(F.broadcast(b_), F.col("id_a") < F.col("id_b"))

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union)
    is_true = (jac >= jaccard_threshold).cast("int")

    def cand_flag(bands: int):
        rows = num_hashes // bands
        slice_match = [
            F.slice("sig_a", i * rows + 1, rows) == F.slice("sig_b", i * rows + 1, rows)
            for i in range(bands)
        ]
        cond = slice_match[0]
        for sm in slice_match[1:]:
            cond = cond | sm
        return cond.cast("int")

    flagged = pairs.select(
        is_true.alias("__t"),
        *[cand_flag(b).alias(f"__c{b}") for b in band_options],
    )
    agg = flagged.agg(
        F.coalesce(F.sum("__t"), F.lit(0)).alias("n_truth"),
        *[
            F.coalesce(F.sum(f"__c{b}"), F.lit(0)).alias(f"n_cand_{b}")
            for b in band_options
        ],
        *[
            F.coalesce(F.sum(F.col("__t") * F.col(f"__c{b}")), F.lit(0)).alias(
                f"n_hit_{b}"
            )
            for b in band_options
        ],
    )
    stack = ", ".join(
        f"{b}, {num_hashes // b}, n_cand_{b}, n_hit_{b}" for b in band_options
    )
    long = agg.selectExpr(
        "n_truth",
        f"stack({len(band_options)}, {stack}) AS "
        "(bands, rows_per_band, n_cand, n_hit)",
    )
    return long.select(
        F.col("bands").cast("int").alias("bands"),
        F.col("rows_per_band").cast("int").alias("rows_per_band"),
        "n_truth",
        "n_cand",
        "n_hit",
        F.when(F.col("n_truth") == 0, F.lit(1.0))
        .otherwise(F.col("n_hit").cast("double") / F.col("n_truth"))
        .alias("recall"),
        F.when(F.col("n_cand") == 0, F.lit(1.0))
        .otherwise(F.col("n_hit").cast("double") / F.col("n_cand"))
        .alias("candidate_precision"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram *containment* C(A in B) = |A∩B| / |A| for pairs within
    blocks — Broder's second resemblance measure (SEQUENCES 1997 §2), the
    one that catches sub-document duplication (quotes, excerpts, boilerplate
    wrappers) where symmetric Jaccard stays low because the containing
    document's shingle set is much larger.

    Same inverted-index set-similarity join as ``ngram_jaccard_pairs``
    (explode to (block, shingle-hash, id, set-size), self-join on the 8-byte
    hash, count co-occurrences = intersection size) — shuffle traffic is one
    row per shared shingle occurrence, never the shingle arrays themselves.
    Emits both directions (``cont_a_in_b``, ``cont_b_in_a``); a pair
    survives when either direction clears ``threshold``.

    Blocking note: containment pairs documents of very *different* sizes,
    so length-band blocking (right for Jaccard) would split exactly the
    pairs of interest — block on size-independent keys (lang, source, or
    LSH buckets of the smaller side at scale).
    """
    if threshold <= 0:
        raise ValueError("threshold must be > 0 (C=0 pairs never materialize)")
    blocks = list(block_cols or [])
    tok = df.select(
        *blocks,
        F.col(id_col).alias("__id"),
        word_ngrams(text_col, shingle_n).alias("__sh"),
    ).select(
        *blocks,
        "__id",
        F.size("__sh").alias("__sz"),
        F.explode("__sh").alias("__g"),
    ).withColumn("__g", F.xxhash64("__g"))

    left = tok.select(
        *blocks, "__g", F.col("__id").alias("id_a"), F.col("__sz").alias("sz_a")
    )
    right = tok.select(
        *blocks, "__g", F.col("__id").alias("id_b"), F.col("__sz").alias("sz_b")
    )
    co = (
        left.join(right, [*blocks, "__g"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy(*blocks, "id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    inter = F.col("__c").cast("double")
    c_ab = inter / F.col("sz_a")
    c_ba = inter / F.col("sz_b")
    return (
        co.select(
            *blocks,
            "id_a",
            "id_b",
            c_ab.alias("cont_a_in_b"),
            c_ba.alias("cont_b_in_a"),
        )
        .filter(F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a")) >= threshold)
    )


def dedup_survivors(
    df: DataFrame,
    key_cols: list[str],
    quality_col: Column | str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivorship: pick ONE canonical record per duplicate group — the
    highest-``quality`` member, ties broken by smallest id (deterministic).

    The pipeline step after dedup *detection*: exact groups (fingerprint)
    or CC-cluster labels become ``key_cols``, and the survivor — not an
    arbitrary member — is what feeds training. Both the rank and the group
    size come from one window partitioning, so this costs a single hash
    shuffle on the group key; nothing wider than (row + rank) is ever held
    per partition.
    """
    from pyspark.sql import Window

    q = F.col(quality_col) if isinstance(quality_col, str) else quality_col
    w = Window.partitionBy(*key_cols)
    rank = F.row_number().over(w.orderBy(q.desc(), F.col(id_col)))
    size = F.count(F.lit(1)).over(w)
    return (
        df.withColumn("__rn", rank)
        .withColumn("group_size", size.cast("long"))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def window_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    window: int = 8,
    stride: int = 4,
) -> DataFrame:
    """Exact repeated-substring detection (Lee et al., "Deduplicating
    training data makes language models better", ACL 2022): hash every
    ``window``-token span at ``stride`` offsets, mark spans whose hash
    occurs more than once ANYWHERE in the corpus (cross-doc boilerplate
    and in-doc repetition both count), and report the per-document
    duplicated-span ratio — the signal the paper drops/trims on.

    The suffix-array of the paper is a single-machine structure; the
    distributed equivalent is this windowed rolling inventory: explode to
    (doc, span-hash) — ~n_tokens/stride rows per doc — one
    partially-aggregated groupBy on the 8-byte hash for global counts,
    then a co-shuffled join back on the same hash. Nothing wider than
    (id, hash, count) ever shuffles; stride trades recall granularity for
    row count (stride == window//2 guarantees every duplicated region of
    >= 1.5 windows overlaps some counted span).

    Docs shorter than ``window`` tokens have no spans and are excluded
    (ratio undefined). Hashing uses the portable md5-head hash so the
    span inventory is replicable by a SQL oracle bit-for-bit.
    """
    from be_analytic_etl_spark.functions import let
    from be_analytic_etl_spark.operators.textstats import portable_hash60

    def spans_of(toks: Column) -> Column:
        n = F.size(toks)
        starts = F.sequence(F.lit(0), n - window, F.lit(stride))
        return F.transform(
            starts,
            lambda i: portable_hash60(F.concat_ws(" ", F.slice(toks, i + 1, window))),
        )

    spans = (
        df.select(F.col(id_col).alias("__id"), tokenize(text_col).alias("__t"))
        .filter(F.size("__t") >= window)
        .select("__id", F.explode(let(F.col("__t"), spans_of)).alias("__h"))
    )
    counts = spans.groupBy("__h").agg(F.count(F.lit(1)).alias("__c"))
    return (
        spans.join(counts, "__h")
        .groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum((F.col("__c") >= 2).cast("long")).cast("long").alias("n_dup_spans"),
        )
        .withColumn(
            "dup_ratio", F.col("n_dup_spans").cast("double") / F.col("n_spans")
        )
    )


def exact_substring_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    window: int = 12,
) -> DataFrame:
    """Exact-substring duplication coverage (the measurement half of Lee
    et al., ACL 2022 §4 ExactSubstr): hash EVERY ``window``-token span
    at stride 1, mark spans whose hash occurs more than once anywhere in
    the corpus, and report per document how many TOKENS the union of its
    duplicated spans covers — the mass ExactSubstr dedup would cut.

    Versus ``window_dedup_stats`` (strided spans): stride > 1 only
    catches duplicate regions that are stride-ALIGNED in both copies;
    stride 1 is alignment-free — any repeated run of >= ``window``
    tokens is caught wherever it sits. The price is one span row per
    token position (~n_tokens rows/doc vs n_tokens/stride); every span
    row is still just (id, 8-byte hash, 4-byte start) — text never
    shuffles. Global span counts use the checkpoint -> partial-agg
    groupBy -> join-back shape (AQE-skew-splittable; the repo's
    ngram-novelty discipline — a window over the hash would funnel the
    hottest boilerplate span into one task). Span-union coverage needs
    consecutive-start gaps, computed with LAG over (doc, start) — a
    per-DOC partition, bounded by document length, never corpus-sized.

    Spans are hashed with the portable md5-head (O(window) per position;
    a true O(1) rolling polynomial update is the production option, kept
    off the oracle path because modular wraparound arithmetic differs
    under ANSI overflow checking). Docs shorter than ``window`` tokens
    are excluded. Output: (id, n_tokens, n_windows, dup_windows,
    covered_tokens, dup_fraction) with dup_fraction = covered/n_tokens,
    one IEEE division of exact longs.
    """
    from pyspark.sql import Window as W

    from be_analytic_etl_spark.functions import let
    from be_analytic_etl_spark.operators.textstats import portable_hash60, tokenize

    def span_hashes(toks: Column) -> Column:
        n = F.size(toks)
        starts = F.sequence(F.lit(0), n - window)
        return F.transform(
            starts,
            lambda i: portable_hash60(
                F.concat_ws(" ", F.slice(toks, i + 1, window))
            ),
        )

    base = (
        df.select(
            F.col(id_col).alias("__id"), tokenize(text_col).alias("__t")
        )
        .filter(F.size("__t") >= window)
        .select("__id", F.size("__t").alias("n_tokens"), "__t")
    )
    spans = base.select(
        "__id", F.posexplode(let(F.col("__t"), span_hashes)).alias("start", "__h")
    ).localCheckpoint(eager=False)
    counts = spans.groupBy("__h").agg(F.count(F.lit(1)).alias("__c"))
    dup = spans.join(counts.filter(F.col("__c") >= 2), "__h")
    lag = F.lag("start").over(W.partitionBy("__id").orderBy("start"))
    per = (
        dup.select("__id", "start", lag.alias("__prev"))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dup_windows"),
            F.sum(
                F.when(F.col("__prev").isNull(), F.lit(window)).otherwise(
                    F.least(F.col("start") - F.col("__prev"), F.lit(window))
                )
            )
            .cast("long")
            .alias("covered_tokens"),
        )
    )
    out = (
        base.select("__id", "n_tokens")
        .join(per, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            (F.col("n_tokens") - window + 1).cast("long").alias("n_windows"),
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("covered_tokens", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
        )
    )
    return out.withColumn(
        "dup_fraction",
        F.col("covered_tokens").cast("double") / F.col("n_tokens").cast("double"),
    )


def exact_substring_coverage_sql(toks_sql: str, window: int = 12) -> str:
    """DuckDB twin of ``exact_substring_coverage`` over the documents
    table; ``toks_sql`` is the tokenizer expression (_TOKS)."""
    w = window
    return f"""
    WITH tok AS (
        SELECT doc_id, {toks_sql} AS t FROM documents
    ), b AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t
        FROM tok WHERE len(t) >= {w}
    ), g AS (
        SELECT doc_id, i - 1 AS start,
               CAST('0x' || substr(md5(array_to_string(
                   list_slice(t, i, i + {w - 1}), ' ')), 1, 15) AS BIGINT) AS h
        FROM b, unnest(range(1, len(t) - {w} + 2)) u(i)
    ), c AS (
        SELECT h, COUNT(*) AS cnt FROM g GROUP BY h
    ), d AS (
        SELECT g.doc_id, g.start,
               LAG(g.start) OVER (PARTITION BY g.doc_id ORDER BY g.start)
                   AS prev
        FROM g JOIN c USING (h) WHERE c.cnt >= 2
    ), per AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS dup_windows,
               CAST(SUM(CASE WHEN prev IS NULL THEN {w}
                             ELSE LEAST(start - prev, {w}) END) AS BIGINT)
                   AS covered_tokens
        FROM d GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           CAST(b.n_tokens - {w} + 1 AS BIGINT) AS n_windows,
           CAST(coalesce(per.dup_windows, 0) AS BIGINT) AS dup_windows,
           CAST(coalesce(per.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           CAST(coalesce(per.covered_tokens, 0) AS DOUBLE)
               / CAST(b.n_tokens AS DOUBLE) AS dup_fraction
    FROM b LEFT JOIN per USING (doc_id)
    """


def simhash_panel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    portable: bool = False,
    max_bucket: int = 1000,
) -> DataFrame:
    """The per-document SimHash readout: one row per document — the full
    fingerprint table ``simhash`` emits — widened with the
    ``simhash_neardup_pairs`` leg aggregated symmetrically onto each
    endpoint: ``n_partners`` (near-dup partners at hamming <=
    ``max_hamming`` found via the 4-chunk pigeonhole bucket join, with
    the same ``max_bucket`` flood guard) and ``min_hamming`` (closest
    partner distance; NULL when the doc has none).

    Every bit of every document's simhash stays value-checked (the
    fingerprint column is emitted verbatim) AND the candidate-join +
    hamming-verify leg stays value-checked (any pair error shifts a
    partner count / min distance). The fingerprint aggregation runs
    ONCE: ``sh`` is persisted and feeds both the chunk self-join and
    the final readout (released via ``session.cached_scope``).
    """
    from pyspark import StorageLevel

    sh = simhash(df, text_col, id_col, portable=portable).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = _simhash_chunk_pairs(sh, id_col, max_hamming, portable, max_bucket)
    # symmetric endpoint view: each pair contributes to BOTH docs. The
    # explode form reads the pair subtree ONCE — a self-union would
    # evaluate the whole candidate join + hamming verify twice, since
    # union branches share no computation (the r13 stage profile showed
    # the union form paying FOUR ~1 s broadcast builds, two per branch;
    # same rationale as graph.connected_components' symmetrize).
    sym = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("__id"), "hamming"
    )
    per_doc = sym.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_partners"),
        F.min("hamming").cast("int").alias("min_hamming"),
    )
    return sh.join(per_doc, sh[id_col] == per_doc["__id"], "left").select(
        F.col(id_col),
        "simhash",
        F.coalesce("n_partners", F.lit(0).cast("long")).alias("n_partners"),
        "min_hamming",
    )
