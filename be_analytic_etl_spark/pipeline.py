"""Declarative curation-pipeline composer.

The reference is a fixed script (``main.py`` runs one hard-coded chain);
a reusable engine lets the user DECLARE the chain. A pipeline spec is a
list of stage dicts — JSON-serializable, so specs can live in config
files and ship through the CLI (``python -m be_analytic_etl_spark
pipeline --spec spec.json``):

    [
      {"op": "quality_gate", "min_chars": 30, "min_tokens": 5},
      {"op": "normalize"},
      {"op": "line_dedup"},
      {"op": "classifier_gate", "threshold": 0.4},
      {"op": "exact_dedup"},
      {"op": "near_dedup"},
      {"op": "split", "weights": [["train", 0.9], ["val", 0.05], ["test", 0.05]]},
    ]

Every stage is a thin adapter over the existing operator modules — the
composer adds NO new distributed semantics, so each stage keeps the scale
properties documented where it is implemented (map-only gates, md5-key
exact dedup, banded LSH near-dup, hash splits). Composition is lazy: the
result is one DataFrame whose plan Catalyst optimizes across stage
boundaries (filter pushdown through the whole chain, column pruning into
the scan), which a step-materializing runner would forfeit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators import dedup as D
from be_analytic_etl_spark.operators import graph as G
from be_analytic_etl_spark.operators import normalize as N
from be_analytic_etl_spark.operators import sampling as SP
from be_analytic_etl_spark.operators import textstats as T

StageFn = Callable[[DataFrame, dict], DataFrame]
STAGES: dict[str, StageFn] = {}


def stage(name: str) -> Callable[[StageFn], StageFn]:
    def deco(fn: StageFn) -> StageFn:
        STAGES[name] = fn
        return fn

    return deco


@stage("quality_gate")
def _quality_gate(df: DataFrame, opts: dict) -> DataFrame:
    """Length gates (map-only). Options: min_chars, min_tokens, text_col."""
    text = opts.get("text_col", "text")
    out = df
    if "min_chars" in opts:
        out = out.filter(F.length(F.coalesce(F.col(text), F.lit(""))) >= int(opts["min_chars"]))
    if "min_tokens" in opts:
        out = out.filter(F.size(T.tokenize(text)) >= int(opts["min_tokens"]))
    return out


@stage("normalize")
def _normalize(df: DataFrame, opts: dict) -> DataFrame:
    """Mojibake/control/whitespace normalization in place (map-only)."""
    text = opts.get("text_col", "text")
    return df.withColumn(text, N.normalize_text(F.col(text)))


@stage("line_dedup")
def _line_dedup(df: DataFrame, opts: dict) -> DataFrame:
    """Within-doc duplicate-line removal in place (map-only array filter)."""
    text = opts.get("text_col", "text")
    id_col = opts.get("id_col", "doc_id")
    sep = opts.get("sep", ". ")
    deduped = N.line_dedup_within_doc(df, text_col=text, id_col=id_col, sep=sep)
    return df.drop(text).join(
        deduped.select(id_col, F.col("rebuilt").alias(text)), id_col
    )


@stage("classifier_gate")
def _classifier_gate(df: DataFrame, opts: dict) -> DataFrame:
    """Hashed-linear quality score threshold (map-only)."""
    text = opts.get("text_col", "text")
    thr = float(opts.get("threshold", 0.5))
    return df.filter(T.hashed_linear_score(text) >= thr)


@stage("exact_dedup")
def _exact_dedup(df: DataFrame, opts: dict) -> DataFrame:
    """Keep the min-id copy of byte-identical texts (md5-key shuffle)."""
    from pyspark import StorageLevel

    text = opts.get("text_col", "text")
    id_col = opts.get("id_col", "doc_id")
    # the input feeds BOTH the keep-id derivation and the probe side of
    # the join; persist so the upstream stages (gates, normalizes) run
    # once — same discipline as the near_dedup stage (release via
    # session.cached_scope in long-lived sessions)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    keep = D.exact_dedup_keep_min(df, text_col=text, id_col=id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col)


@stage("near_dedup")
def _near_dedup(df: DataFrame, opts: dict) -> DataFrame:
    """MinHash-LSH near-dup groups -> keep min-id representative."""
    from pyspark import StorageLevel

    text = opts.get("text_col", "text")
    id_col = opts.get("id_col", "doc_id")
    # the input feeds LSH pair generation, the CC node set AND the final
    # representative join; persist so upstream stages run once (release
    # via session.cached_scope in long-lived sessions)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    pairs = D.minhash_lsh_pairs(
        df,
        text_col=text,
        id_col=id_col,
        num_hashes=int(opts.get("num_hashes", 32)),
        bands=int(opts.get("bands", 8)),
        shingle_n=int(opts.get("shingle_n", 3)),
        jaccard_threshold=float(opts.get("jaccard_threshold", 0.8)),
        max_bucket=int(opts.get("max_bucket", 64)),
        portable=bool(opts.get("portable", False)),
        round_to=None,
    )
    return G.dedup_group_representatives(df, pairs, id_col)


@stage("shuffle")
def _shuffle(df: DataFrame, opts: dict) -> DataFrame:
    """Deterministic training-order shard/pos columns (one exchange)."""
    id_col = opts.get("id_col", "doc_id")
    assignment = N.corpus_shuffle(
        df,
        id_col=id_col,
        n_shards=int(opts.get("n_shards", 8)),
        seed=int(opts.get("seed", 0)),
    )
    return df.join(assignment, id_col)


@stage("split")
def _split(df: DataFrame, opts: dict) -> DataFrame:
    """Deterministic hash split column (map-only)."""
    id_col = opts.get("id_col", "doc_id")
    weights = opts.get("weights")
    splits = [(str(n), float(w)) for n, w in weights] if weights else None
    return df.withColumn("split", SP.assign_split(F.col(id_col), splits))


def run_pipeline(df: DataFrame, spec: list[dict]) -> DataFrame:
    """Compose the staged transforms lazily over ``df``.

    Raises on unknown ops up front (a 100 TB job must fail at plan time,
    not 3 hours in)."""
    unknown = [s.get("op") for s in spec if s.get("op") not in STAGES]
    if unknown:
        raise ValueError(f"unknown pipeline ops {unknown}; known: {sorted(STAGES)}")
    out = df
    for s in spec:
        opts = {k: v for k, v in s.items() if k != "op"}
        out = STAGES[s["op"]](out, opts)
    return out
