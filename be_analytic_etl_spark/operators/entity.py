"""Blocked entity resolution: names -> candidate pairs -> verified
matches -> entity clusters.

The full ER pipeline the `fuzzy_match` query (queries/reference.py)
only previews: multi-key **blocking** (first + last token, so a typo in
either word still meets its partner in the other block — single-key
blocking silently loses those pairs), a **flood-capped candidate join**
(the LSH/simhash ``kept`` discipline: a block larger than ``max_block``
carries no discriminating signal and would go quadratic on a
skewed vocabulary — a "LLC"/"Inc" token at web scale), a **thresholded
levenshtein verify** (O(threshold * len) with early exit — exact for
distances <= threshold, never the full O(len^2) DP on adversarial
megabyte names), and **transitive closure** via operators/graph.py so
every name gets an entity id (hash-to-min CC, ICDE 2013).

Scale shape: the vocabulary is aggregated FIRST (names repeat millions
of times in any real corpus; ER operates on the distinct vocabulary),
block keys shuffle as 32-char md5 hashes regardless of name length, the
candidate join is per-block bounded by ``max_block``, and CC state is
(node, label) longs. No stage touches full documents.

Reference surface: generalizes the blocking pattern of
``/root/reference/main.py``'s exact-key joins to approximate entity
matching (an engine extension — the reference has no fuzzy layer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators.graph import connected_components
from be_analytic_etl_spark.operators.textstats import tokenize


#: Names longer than this never enter blocking (they stay singleton
#: entities). This is the ER family's flood guard, same discipline as
#: the LSH/simhash ``max_bucket`` caps: it bounds EVERY levenshtein call
#: at O(threshold * MAX_NAME_LEN) regardless of upstream drift. Without
#: it the string-poisoned gate hung the suite — the block self-join
#: materializes (megabyte-name, megabyte-name) probe pairs, and
#: Catalyst may evaluate the levenshtein conjunct before the cheap
#: id/band guards, where Spark's distance walk over a 1 MB non-name is
#: effectively unbounded. A megabyte "name" is upstream drift, not an
#: entity; real vocabularies sit orders of magnitude below the cap,
#: which never binds on the clean corpus (hashes unchanged at all SFs).
MAX_NAME_LEN = 1000


def blocking_keys(
    names: DataFrame,
    name_col: str = "name",
    id_col: str = "id",
    max_name_len: int = MAX_NAME_LEN,
) -> DataFrame:
    """(id, name, ln, bk) — one row per (name, block key).

    Keys are the md5 of the first and the last whitespace token (md5 so a
    megabyte-token name shuffles as 32 chars, and so the DuckDB twin is
    byte-identical). Blank names and names past ``max_name_len`` produce
    no key and therefore no pairs.
    """
    toks = tokenize(name_col)
    keyed = names.filter(F.length(name_col) <= max_name_len).select(
        F.col(id_col).alias("id"),
        F.col(name_col).alias("name"),
        F.length(name_col).alias("ln"),
        F.explode(
            F.array(F.get(toks, 0), F.get(toks, F.size(toks) - 1))
        ).alias("__tok"),
    ).filter(F.col("__tok").isNotNull())
    return keyed.select(
        "id", "name", "ln", F.md5(F.col("__tok")).alias("bk")
    ).distinct()


def candidate_pairs(
    keyed: DataFrame, threshold: int = 3, max_block: int = 1000
) -> DataFrame:
    """Distinct (id_a, name_a, id_b, name_b) candidate pairs from blocks.

    ``max_block`` is the flood guard: blocks above it are skipped outright
    (the duplicate-bomb lesson from the simhash chunk join — an uncapped
    block makes the join C(n, 2) on a stop-token flood). The length-band
    filter is sound, not heuristic: edit distance <= t implies
    |len(a) - len(b)| <= t.
    """
    kept = keyed.groupBy("bk").agg(F.count(F.lit(1)).alias("__bn")).filter(
        F.col("__bn") <= max_block
    )
    a = keyed.select(
        F.col("id").alias("id_a"), F.col("name").alias("name_a"),
        F.col("ln").alias("ln_a"), "bk",
    )
    b = keyed.select(
        F.col("id").alias("id_b"), F.col("name").alias("name_b"),
        F.col("ln").alias("ln_b"), "bk",
    )
    # id order and length band ride IN the join condition (not a
    # downstream filter): self-pairs and out-of-band pairs then never
    # materialize for later conjuncts — Catalyst is free to reorder
    # post-join filters, and the levenshtein must never run on a pair
    # these guards exclude
    cond = (
        (a["bk"] == b["bk"])
        & (a["id_a"] < b["id_b"])
        & (F.abs(a["ln_a"] - b["ln_b"]) <= threshold)
    )
    return (
        a.join(F.broadcast(kept.select(F.col("bk").alias("__kbk"))),
               a["bk"] == F.col("__kbk"))
        .join(b, cond)
        .select("id_a", "name_a", "id_b", "name_b")
        .distinct()
    )


def verified_matches(cand: DataFrame, threshold: int = 3) -> DataFrame:
    """(id_a, id_b, distance) pairs whose thresholded levenshtein is
    within ``threshold`` (the -1 sentinel past the threshold is excluded
    by between)."""
    lev = F.levenshtein("name_a", "name_b", threshold)
    return cand.filter(lev.between(0, threshold)).select(
        "id_a", "id_b", lev.alias("distance")
    )


def resolve_entities(
    names: DataFrame,
    name_col: str = "name",
    id_col: str = "id",
    *,
    threshold: int = 3,
    max_block: int = 1000,
    max_name_len: int = MAX_NAME_LEN,
) -> DataFrame:
    """Label every name with its entity id (min member id of its match
    cluster). Returns (id, name, entity_id); singletons keep their own
    id, so the output is a total function of the input vocabulary."""
    keyed = blocking_keys(names, name_col, id_col, max_name_len=max_name_len)
    matches = verified_matches(
        candidate_pairs(keyed, threshold=threshold, max_block=max_block),
        threshold=threshold,
    )
    comps = connected_components(
        matches.select("id_a", "id_b"),
        nodes=names.select(F.col(id_col).alias("id")),
    )
    return (
        names.select(F.col(id_col).alias("id"), F.col(name_col).alias("name"))
        .join(comps.withColumnRenamed("group_id", "entity_id"), "id")
    )
