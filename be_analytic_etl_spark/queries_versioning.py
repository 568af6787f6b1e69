"""Round-4 versioning + curriculum queries: snapshot diff between two
table versions (the CDC/audit primitive) and quantile-bucketed
curriculum sampling (length-staged training data).

Version fixtures are synthesized deterministically from `orders` (modular
key filters + a price bump), so both engines build byte-identical v1/v2
and the diff logic is genuinely exercised.
"""

from __future__ import annotations

# registry first: fully initializes the queries_* chain (see
# queries_textprep.py for why).
from be_analytic_etl_spark.registry import register
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators import versioning as V
from be_analytic_etl_spark.operators.textstats import PORTABLE_P, portable_base_hash, tokenize
from be_analytic_etl_spark.queries_extensions import _TOKS, _t

# ---------------------------------------------------------------------------
# ext_snapshot_diff: v1 = orders minus every 11th key; v2 = orders minus
# every 7th key, with a 10% price bump on every 5th key. One full-outer
# sort-merge join on the key, then a per-status rollup with a key
# checksum. At 100 TB both versions would be bucketed on the key and the
# join would be exchange-free (bucketed_join proves that layout).


def q_ext_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    v1 = orders.filter(F.col("o_orderkey") % 11 != 0).select(*cols)
    v2 = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0,
            F.col("o_totalprice") * F.lit(1.1),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    diff = V.snapshot_diff(v1, v2, "o_orderkey", ["o_totalprice", "o_orderstatus"])
    return V.diff_summary(diff, "o_orderkey")


register(
    "ext_snapshot_diff",
    q_ext_snapshot_diff,
    """
    WITH v1 AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 11 <> 0
    ), v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0
                    THEN o_totalprice * CAST(1.1 AS DOUBLE)
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 7 <> 0
    ), d AS (
        SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k,
               CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'deleted'
                    WHEN a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
                         AND a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
                         THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS key_checksum
    FROM d GROUP BY status
    """,
)


# ---------------------------------------------------------------------------
# ext_curriculum_sample: exact quartile thresholds over token counts, map-
# side bucket assignment (no ntile / no global sort), then a deterministic
# 1-in-10 portable-hash sample per bucket. Returns per-bucket totals,
# sample sizes and the sampled token mass.

def q_ext_curriculum_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    buckets = V.curriculum_buckets(
        docs, F.size(tokenize("text")), id_col="doc_id"
    )
    in_sample = (portable_base_hash(F.col("doc_id").cast("string")) % 10) == 0
    return buckets.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(in_sample, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        F.sum(F.when(in_sample, F.col("length")).otherwise(F.lit(0.0)))
        .cast("double")
        .alias("sum_len_sampled"),
    )


register(
    "ext_curriculum_sample",
    q_ext_curriculum_sample,
    f"""
    WITH lens AS (
        SELECT doc_id, CAST(len({_TOKS}) AS DOUBLE) AS l FROM documents
    ), q AS (
        SELECT quantile_cont(l, [0.25, 0.5, 0.75]) AS qs FROM lens
    ), b AS (
        SELECT doc_id, l,
               (CASE WHEN l > qs[1] THEN 1 ELSE 0 END
                + CASE WHEN l > qs[2] THEN 1 ELSE 0 END
                + CASE WHEN l > qs[3] THEN 1 ELSE 0 END) AS bucket,
               (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                % {PORTABLE_P}) % 10 = 0 AS in_sample
        FROM lens, q
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN in_sample THEN l ELSE 0.0 END) AS DOUBLE)
               AS sum_len_sampled
    FROM b GROUP BY bucket
    """,
)


# ---------------------------------------------------------------------------
# ext_incremental_agg: materialized-aggregate refresh without re-scanning
# history. The reference rebuilds its consolidated view from scratch every
# run (/root/reference/main.py:630-637 one-shot + README.md:119-213 full-
# table view); here the aggregate's mergeable partial state (count + exact
# DECIMAL sums) is built once over history and each later partition folds
# in with one |groups|-sized join — O(delta), not O(history). The oracle
# is the from-scratch GROUP BY over the whole table: equality IS the proof
# that the incremental path can replace the rescan.


def q_ext_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import incremental as I

    orders = _t(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    measures = {"totalprice": "o_totalprice"}
    # Three arriving partitions: history, then two monthly-style deltas.
    hist = orders.filter(F.col("o_orderdate") < F.lit("1996-07-01"))
    d1 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1997-07-01"))
    )
    d2 = orders.filter(F.col("o_orderdate") >= F.lit("1997-07-01"))
    state = I.aggregate_partial(hist, keys, measures)
    state = I.merge_states(state, I.aggregate_partial(d1, keys, measures), keys)
    state = I.merge_states(state, I.aggregate_partial(d2, keys, measures), keys)
    return I.finalize(state, keys, ["totalprice"])


register(
    "ext_incremental_agg",
    q_ext_incremental_agg,
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(32,2))) AS DOUBLE)
               AS total_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(32,2))) AS DOUBLE) / COUNT(*)
               AS avg_totalprice
    FROM orders GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# ext_decontaminate: the OPERATIONAL form of ext_contamination — ship the
# corpus minus every doc sharing an 8-gram with the benchmark subset
# (doc_id % 97 == 0 stands in for the eval suite), then report the cleaned
# corpus per language. The flag set is benchmark-sized, so the anti join
# broadcasts; the corpus is scanned once, map-only.


def q_ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import dedup as D

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    clean = D.decontaminate(docs, bench, ngram_n=8)
    return clean.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _decontaminate_oracle() -> str:
    from be_analytic_etl_spark.queries_extensions import _grams_sql

    return f"""
    WITH tok AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ), g AS (
        SELECT doc_id, unnest({_grams_sql("toks", 8)}) AS gm FROM tok
    ), gh AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(gm), 1, 15) AS BIGINT) AS h
        FROM g
    ), bh AS (
        SELECT doc_id AS bench_id, h FROM gh WHERE doc_id % 97 = 0
    ), contaminated AS (
        SELECT DISTINCT gh.doc_id
        FROM gh JOIN bh ON gh.h = bh.h AND gh.doc_id <> bh.bench_id
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    GROUP BY lang
    """


register("ext_decontaminate", q_ext_decontaminate, _decontaminate_oracle())


# ---------------------------------------------------------------------------
# ext_rollup_refresh: continuous-aggregate (hypertable-rollup) maintenance
# under CORRECTIONS. The 1997+ partition is re-ingested with a price fix
# (+1000.00 on every 13th key — an EXACT binary delta, so the corrected
# double stays a near-2dp value both engines quantize to the same
# DECIMAL; a *1.1 bump creates 3-decimal doubles whose double->decimal
# rounding differs between engines near .005 boundaries); the monthly x
# priority rollup refreshes by REPLACING only the touched months
# (incremental.refresh_buckets) instead of re-aggregating history.
# Oracle: from-scratch GROUP BY over the corrected table — equality
# proves invalidation refresh == full rebuild.

_RR_CUT = "1997-01-01"


def q_ext_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators import incremental as I

    orders = _t(spark, sf_dir, "orders")
    keys = ["month", "o_orderpriority"]
    measures = {"totalprice": "o_totalprice"}
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")

    # v1 state: the whole table, uncorrected.
    state = I.aggregate_partial(orders.select(month, "*"), keys, measures)
    # Re-ingested partition: 1997+ with the price correction applied.
    corrected = orders.filter(F.col("o_orderdate") >= F.lit(_RR_CUT)).select(
        month,
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + F.lit(1000.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    delta = I.aggregate_partial(corrected, keys, measures)
    refreshed = I.refresh_buckets(state, delta, ["month"])
    return I.finalize(refreshed, keys, ["totalprice"])


register(
    "ext_rollup_refresh",
    q_ext_rollup_refresh,
    f"""
    WITH corrected AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               o_orderpriority,
               CASE WHEN o_orderdate >= DATE '{_RR_CUT}' AND o_orderkey % 13 = 0
                    THEN o_totalprice + CAST(1000.0 AS DOUBLE)
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
    )
    SELECT month, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(32,2))) AS DOUBLE)
               AS total_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(32,2))) AS DOUBLE) / COUNT(*)
               AS avg_totalprice
    FROM corrected GROUP BY month, o_orderpriority
    """,
)



def _checksum_sql(key: str) -> str:
    """DuckDB twin of versioning.dataset_manifest's key checksum: 60-bit
    md5-head hashes summed in exact DECIMAL, mod p. ONE source of truth
    for every manifest oracle in this file."""
    return (
        f"CAST(SUM(CAST(CAST('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15) "
        f"AS BIGINT) AS DECIMAL(38,0))) % 2147483647 AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# ext_dataset_manifest: the provenance record shipped with a training-data
# release — per (lang, split), row count, char volume, and an
# order-insensitive key checksum a consumer re-derives to detect dropped
# or duplicated rows without scanning content. Checksum sums 60-bit
# md5-head key hashes in exact DECIMAL, so row order, partition merge
# order, and engine are all irrelevant.


def q_ext_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sampling import assign_split

    docs = _t(spark, sf_dir, "documents").withColumn(
        "split", assign_split("doc_id")
    )
    return V.dataset_manifest(
        docs, ["lang", "split"], key_col="doc_id", size_col="n_chars"
    )


def _manifest_oracle() -> str:
    from be_analytic_etl_spark.queries_extensions import _bucket_sql

    return f"""
    WITH d AS (
        SELECT lang, n_chars, doc_id,
               CASE WHEN {_bucket_sql("split")} < 9000 THEN 'train'
                    WHEN {_bucket_sql("split")} < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT lang, split,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_checksum_sql('doc_id')} AS key_checksum,
           CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
    FROM d GROUP BY lang, split
    """


register("ext_dataset_manifest", q_ext_dataset_manifest, _manifest_oracle())


# ---------------------------------------------------------------------------
# ext_manifest_drift: the consumer side of ext_dataset_manifest — re-derive
# the manifest from what was received (here: the corpus minus one
# deterministic "lost shard": doc_id % 17 == 3) and diff against the
# producer's. Checksum inequality pinpoints the damaged groups without
# any content scan; both manifests are |groups| rows, so the diff is a
# broadcastable join no matter the corpus size.


def q_ext_manifest_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    produced = V.dataset_manifest(docs, ["lang"], key_col="doc_id", size_col="n_chars")
    received = V.dataset_manifest(
        docs.filter(F.col("doc_id") % 17 != 3),
        ["lang"],
        key_col="doc_id",
        size_col="n_chars",
    )
    p = produced.select(
        "lang",
        F.col("n_rows").alias("p_rows"),
        F.col("key_checksum").alias("p_checksum"),
    )
    r = received.select(
        "lang",
        F.col("n_rows").alias("r_rows"),
        F.col("key_checksum").alias("r_checksum"),
    )
    return (
        p.join(r, "lang", "full_outer")
        .select(
            "lang",
            F.coalesce("p_rows", F.lit(0)).alias("p_rows"),
            F.coalesce("r_rows", F.lit(0)).alias("r_rows"),
            (F.coalesce("p_rows", F.lit(0)) - F.coalesce("r_rows", F.lit(0))).alias(
                "missing_rows"
            ),
            (
                ~F.coalesce("p_checksum", F.lit(-1)).eqNullSafe(
                    F.coalesce("r_checksum", F.lit(-1))
                )
            ).alias("content_drift"),
        )
    )


def _manifest_drift_oracle() -> str:
    h = _checksum_sql("doc_id")
    return f"""
    WITH produced AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS p_rows, {h} AS p_checksum
        FROM documents GROUP BY lang
    ), received AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS r_rows, {h} AS r_checksum
        FROM documents WHERE doc_id % 17 <> 3 GROUP BY lang
    )
    SELECT coalesce(p.lang, r.lang) AS lang,
           coalesce(p_rows, 0) AS p_rows,
           coalesce(r_rows, 0) AS r_rows,
           coalesce(p_rows, 0) - coalesce(r_rows, 0) AS missing_rows,
           coalesce(p_checksum, -1) IS DISTINCT FROM coalesce(r_checksum, -1)
               AS content_drift
    FROM produced p FULL OUTER JOIN received r ON p.lang = r.lang
    """


register("ext_manifest_drift", q_ext_manifest_drift, _manifest_drift_oracle())
