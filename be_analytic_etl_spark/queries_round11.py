"""Round-11 registry merges: four pairs of near-duplicate queries, each
collapsed into ONE query with the union readout. The parent queries and
their helpers are deleted; each panel below is the only implementation
and is value-checked against its own oracle.

- ``ext_tdigest_panel``: one row per t-digest cluster (the full write-path
  summary) widened with the quantile READ path aggregated onto the
  owning cluster (owned-q count, rank/exact checksums, worst measured
  error).
- ``ext_simhash_panel``: one row per document: the verbatim 60-bit
  fingerprint plus the near-dup pair leg folded symmetrically onto each
  endpoint (partner count, closest hamming distance).
- ``ext_hll_panel``: the register-merge rollup (per-source scopes + the
  register-wise-MAX 'ALL' row) widened with the exact distinct count per
  scope, so the estimate's error is visible.
- ``ext_pipeline_e2e``: the end-to-end curation chain driven through the
  pipeline COMPOSER (pipeline.run_pipeline), value-checked against the
  recursive-CTE oracle ``PIPELINE_ORACLE_SQL``.

Merge discipline: no merged query double-pays its substrate — the
t-digest panel fans every leg out of ONE eagerly checkpointed cumulative
histogram, the simhash panel persists the fingerprint aggregation once
for both the bucket join and the readout, the HLL panel reuses the
checkpointed register frame for both scopes, and the pipeline run is a
single chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators import dedup as D
from be_analytic_etl_spark.queries_extensions import _simhash_sql_body, _t
from be_analytic_etl_spark.registry import register

# ---------------------------------------------------------------------------
# 1. t-digest write+read panel.

_TD_DELTA = 32
_TD_READ_Q = [10_000, 100_000, 250_000, 500_000, 750_000, 900_000, 990_000]


def q_ext_tdigest_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sketches import tdigest_panel

    orders = _t(spark, sf_dir, "orders")
    vals = orders.select(F.floor("o_totalprice").cast("long").alias("v"))
    return tdigest_panel(vals, "v", _TD_READ_Q, delta=_TD_DELTA)


def _tdigest_panel_oracle() -> str:
    from be_analytic_etl_spark.operators.sketches import tdigest_panel_sql

    rows = "SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS v FROM orders"
    return "WITH " + tdigest_panel_sql(rows, _TD_READ_Q, delta=_TD_DELTA).strip()


register("ext_tdigest_panel", q_ext_tdigest_panel, _tdigest_panel_oracle())


# ---------------------------------------------------------------------------
# 2. SimHash fingerprint + near-dup panel: portable 60-bit hash, 4-chunk
#    pigeonhole, hamming <= 6.

_SIMHASH_MAXHAM = 6
_SIMHASH_MAXBUCKET = 1000


def q_ext_simhash_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_panel(
        _t(spark, sf_dir, "documents"),
        max_hamming=_SIMHASH_MAXHAM,
        portable=True,
        max_bucket=_SIMHASH_MAXBUCKET,
    )


register(
    "ext_simhash_panel",
    q_ext_simhash_panel,
    f"""
    WITH {_simhash_sql_body()}, chunks0 AS (
        SELECT doc_id, simhash, i AS chunk_id,
               (simhash >> (i * 15)) & 32767 AS chunk
        FROM sim, range(0, 4) r(i)
    ), kept AS (
        SELECT chunk_id, chunk FROM chunks0
        GROUP BY 1, 2 HAVING COUNT(*) <= {_SIMHASH_MAXBUCKET}
    ), chunks AS (
        SELECT chunks0.* FROM chunks0 JOIN kept USING (chunk_id, chunk)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM chunks a JOIN chunks b
          ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
         AND a.doc_id < b.doc_id
    ), pairs AS (
        SELECT id_a, id_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
        FROM cand
        WHERE bit_count(xor(sh_a, sh_b)) <= {_SIMHASH_MAXHAM}
    ), sym AS (
        SELECT id_a AS id, hamming FROM pairs
        UNION ALL
        SELECT id_b, hamming FROM pairs
    ), pd AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_partners,
               CAST(MIN(hamming) AS INTEGER) AS min_hamming
        FROM sym GROUP BY id
    )
    SELECT s.doc_id, s.simhash,
           CAST(COALESCE(pd.n_partners, 0) AS BIGINT) AS n_partners,
           pd.min_hamming
    FROM sim s LEFT JOIN pd ON s.doc_id = pd.id
    """,
)


# ---------------------------------------------------------------------------
# 3. HLL register-merge rollup + exact-error panel: p=8, salt='hllu',
#    distinct TEXT per source on documents.

_HLL_P = 8
_HLL_SALT = "hllu"


def q_ext_hll_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.sketches import (
        hll_estimate,
        hll_merge_registers,
        hll_registers,
    )

    docs = _t(spark, sf_dir, "documents")
    # lazy checkpoint: both union branches reference regs — without it
    # each branch would re-scan the corpus; with it the sketch-sized
    # register frame (<= 2^p rows per source) materializes once.
    regs = hll_registers(
        docs, ["source"], "text", p=_HLL_P, salt=_HLL_SALT
    ).localCheckpoint(eager=False)
    scoped = regs.select(
        F.col("source").cast("string").alias("scope"), "__idx", "__m"
    ).unionByName(
        hll_merge_registers(regs, []).select(
            F.lit("ALL").alias("scope"), "__idx", "__m"
        )
    )
    est = hll_estimate(scoped, ["scope"], p=_HLL_P)
    # exact side in ONE corpus pass: rollup((scope)) = per-source rows +
    # the grand-total row; the grouping flag names the total 'ALL' so it
    # lines up with the merged sketch row.
    exact = (
        docs.select(F.col("source").cast("string").alias("scope"), "text")
        .rollup("scope")
        .agg(
            F.countDistinct("text").cast("long").alias("exact_distinct"),
            F.grouping("scope").alias("__g"),
        )
        .select(
            F.when(F.col("__g") == 1, F.lit("ALL"))
            .otherwise(F.col("scope"))
            .alias("scope"),
            "exact_distinct",
        )
    )
    # null-safe: a NULL source is a legitimate scope on drifted upstreams
    # (NULL-poisoned-batch gate) and must still line up with its sketch.
    return est.join(
        exact, est["scope"].eqNullSafe(exact["scope"]), "left"
    ).select(est["scope"], "hll_estimate", "n_registers_used", "exact_distinct")


def _hll_panel_oracle() -> str:
    from be_analytic_etl_spark.operators.sketches import hll_union_sql_twin

    twin = hll_union_sql_twin(
        "documents", "source", "text", p=_HLL_P, salt=_HLL_SALT
    )
    return f"""
    WITH sketch AS ({twin}),
    exact AS (
        SELECT CASE WHEN GROUPING(scope) = 1 THEN 'ALL' ELSE scope END
                   AS scope,
               CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct
        FROM (SELECT CAST(source AS VARCHAR) AS scope, text FROM documents)
        GROUP BY ROLLUP (scope)
    )
    SELECT s.scope, s.hll_estimate, s.n_registers_used, e.exact_distinct
    FROM sketch s LEFT JOIN exact e ON s.scope IS NOT DISTINCT FROM e.scope
    """


register("ext_hll_panel", q_ext_hll_panel, _hll_panel_oracle())


# ---------------------------------------------------------------------------
# 4. End-to-end curation pipeline, composer-driven (spec in
#    queries_textprep.q_ext_pipeline_spec).


def q_ext_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.queries_textprep import q_ext_pipeline_spec

    return q_ext_pipeline_spec(spark, sf_dir)


def _pipeline_e2e_oracle() -> str:
    from be_analytic_etl_spark.queries_extensions import PIPELINE_ORACLE_SQL

    return PIPELINE_ORACLE_SQL


register("ext_pipeline_e2e", q_ext_pipeline_e2e, _pipeline_e2e_oracle())
