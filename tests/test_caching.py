"""cached_scope: eager release of operator-internal persists.

VERDICT watch item: minhash_lsh_pairs / simhash near-dup / add_dense_id
persist intermediates with no unpersist — fine per-query (plan GC), but a
long-lived session accumulates cached blocks. cached_scope bounds them.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from be_analytic_etl_spark.session import cached_scope, persistent_rdd_ids
from tests.conftest import SF_DIR


def _docs(spark):
    from be_analytic_etl_spark.sources import load_table

    return load_table(spark, SF_DIR, "documents").limit(200)


def test_cached_scope_releases_lsh_persists(spark):
    from be_analytic_etl_spark.operators.dedup import minhash_lsh_pairs

    before = persistent_rdd_ids(spark)
    with cached_scope(spark):
        pairs = minhash_lsh_pairs(_docs(spark), "text", "doc_id")
        n = pairs.count()  # consume inside the scope
        assert n >= 0
        assert len(persistent_rdd_ids(spark)) > len(before), (
            "operator should have persisted intermediates inside the scope"
        )
    assert persistent_rdd_ids(spark) <= before, "scope must release its persists"


def test_cached_scope_releases_dense_id_persist(spark):
    from be_analytic_etl_spark.operators.consolidate import add_dense_id

    before = persistent_rdd_ids(spark)
    with cached_scope(spark):
        out = add_dense_id(_docs(spark).select("doc_id"), ["doc_id"])
        assert out.count() > 0
    assert persistent_rdd_ids(spark) <= before


def test_cached_scope_preserves_preexisting_cache(spark):
    keep = spark.range(100).select((F.col("id") * 2).alias("v")).persist()
    keep.count()
    kept_ids = persistent_rdd_ids(spark)
    with cached_scope(spark):
        tmp = spark.range(50).persist()
        tmp.count()
    after = persistent_rdd_ids(spark)
    assert kept_ids <= after, "pre-existing cache must survive the scope"
    assert keep.count() == 100
    keep.unpersist()


def test_cached_scope_releases_local_checkpoints(spark):
    """A frame localCheckpoint-ed inside the scope answers inside it and
    raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND after it: the scope frees
    the checkpoint blocks, and the truncated lineage cannot rebuild them."""
    import pytest

    with cached_scope(spark):
        df = spark.range(100).localCheckpoint()
        assert df.count() == 100
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        df.count()


def test_registered_dedup_queries_leave_no_persistent_rdds(spark):
    """Round-4 VERDICT ask: after each dedup-family registered query
    completes (produced and consumed inside cached_scope, as bench.py
    runs every query), getPersistentRDDs holds nothing new."""
    import pytest

    from be_analytic_etl_spark.registry import QUERIES

    names = [
        "ext_minhash_lsh_neardup",
        "ext_simhash_panel",
        "ext_lsh_recall",
        "ext_lsh_tuning",
        "ext_incremental_dedup",
    ]
    missing = [n for n in names if n not in QUERIES]
    if missing:
        pytest.fail(f"registry lost dedup queries: {missing}")
    for name in names:
        before = persistent_rdd_ids(spark)
        with cached_scope(spark):
            QUERIES[name](spark, SF_DIR).write.mode("overwrite").format(
                "noop"
            ).save()
        leaked = persistent_rdd_ids(spark) - before
        assert not leaked, f"{name} leaked persisted RDDs: {leaked}"
