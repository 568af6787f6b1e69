"""Text normalization, within-document dedup, deterministic corpus
shuffle, and domain temperature weighting — the pre-tokenization prep
passes of an LLM training-data pipeline.

Everything here is native Column expressions (JVM-side, whole-stage
codegen); the only shuffle in the family is the one the corpus shuffle
*is* (a single hash-ordered exchange). The reference repo has no text
corpus surface — these extend it with the standard curation passes
(C4 §2.2, Gopher §A1.1, Dolma §4) a 100 TB text pipeline needs.

100 TB notes:

- ``normalize_text`` is map-only: a fixed replace chain + two regexes per
  row. No shuffle, fully pipelined into whatever scan feeds it.
- ``line_dedup_within_doc`` is ALSO map-only: first-occurrence filtering
  is an array expression over the split text (``array_position(parts, x)
  == i``), so within-doc dedup costs zero network. The O(parts^2) scan is
  bounded by per-document sentence counts, not corpus size.
- ``corpus_shuffle`` does exactly one exchange: shard = hash % n_shards
  is map-side; the within-shard position is a window over (shard) ordered
  by the same hash — i.e. the partitioned-sort a shuffled training-shard
  writer needs anyway (repartition(shard) + sortWithinPartitions).
- ``temperature_weights`` reduces the corpus to |domains| rows before any
  float math; the tempered renormalization happens on that tiny frame.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.rounding import stable_round

from be_analytic_etl_spark.operators.textstats import (
    WS_PLUS,
    portable_base_hash,
    tokenize,
)

#: UTF-8-read-as-Latin-1 mojibake pairs (the high-frequency subset of the
#: ftfy table: Portuguese/Spanish accents + smart punctuation). Applied as
#: a literal replace chain — identical in Spark and DuckDB.
MOJIBAKE_PAIRS: list[tuple[str, str]] = [
    ("Ã©", "é"),
    ("Ã¡", "á"),
    ("Ã§", "ç"),
    ("Ã£", "ã"),
    ("Ãµ", "õ"),
    ("Ãº", "ú"),
    ("â", "’"),
    ("â", "“"),
    ("â", "–"),
    ("Â ", " "),
]

#: Control characters stripped outright (C0 minus \t \n \r, plus DEL).
#: \t \n \r survive this class and are then folded by the \s+ collapse.
CONTROL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def repair_mojibake(col: Column | str) -> Column:
    """Fixed-table mojibake repair (ftfy's high-frequency subset).

    A replace *chain*, not a regex alternation: each pair is a literal
    substring swap, so the whole chain stays a single codegen'd projection
    and the DuckDB twin (nested ``replace()``) is byte-identical.
    """
    c = F.col(col) if isinstance(col, str) else col
    for bad, good in MOJIBAKE_PAIRS:
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


def normalize_text(col: Column | str) -> Column:
    """Full normalization pass: control-char strip -> mojibake repair ->
    whitespace collapse -> trim.

    The control strip runs FIRST: stripping a control char can join the
    two halves of a mojibake sequence (e.g. 'Ã<VT>©' -> 'Ã©'), and with
    repair first that newly-formed pair would survive the pass — a
    non-idempotence the hypothesis property test caught with exactly
    that input. Strip-then-repair is idempotent: repairs emit printable
    characters only, and the later whitespace steps only insert/remove
    spaces at run or edge positions, never creating new adjacency.

    Unicode NFC is deliberately absent: Spark has no built-in normalizer
    (it would force a per-row Python UDF — the slow path), and the fixed
    repair table covers the mojibake classes NFC cannot fix anyway. A
    deployment needing true NFC should add an Arrow `mapInPandas` stage
    with `unicodedata.normalize`, batched, after this cheap native pass
    has already collapsed the easy cases.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(F.coalesce(c, F.lit("")), CONTROL_CLASS, "")
    c = repair_mojibake(c)
    c = F.regexp_replace(c, WS_PLUS, " ")
    return F.trim(c)


def line_dedup_within_doc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = ". ",
) -> DataFrame:
    """Drop repeated lines/sentences WITHIN each document, keeping the
    first occurrence in order (Dolma's within-doc pass; the corpus-wide
    variant is ``curation.paragraph_dedup``).

    Map-only: first-occurrence selection is ``array_position(parts, x) ==
    i`` over the split array — no explode, no shuffle, no window. Returns
    (id, n_parts, n_kept, kept_ratio, rebuilt) with the deduped text
    reassembled with the same separator.
    """
    parts = F.split(F.coalesce(F.col(text_col), F.lit("")), re.escape(sep))
    first_only = F.filter(parts, lambda x, i: F.array_position(parts, x) == i + 1)
    n_parts = F.size(parts).cast("long")
    n_kept = F.size(first_only).cast("long")
    return df.select(
        F.col(id_col),
        n_parts.alias("n_parts"),
        n_kept.alias("n_kept"),
        (n_kept.cast("double") / n_parts.cast("double")).alias("kept_ratio"),
        F.array_join(first_only, sep).alias("rebuilt"),
    )


def corpus_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: int = 0,
) -> DataFrame:
    """Deterministic training-order shuffle + shard assignment.

    Every row gets a portable 60-bit hash of (seed, id); the shard is
    ``hash % n_shards`` (map-side) and the position within the shard is
    the rank by (hash, id) — exactly the repartition+sortWithinPartitions
    a shard writer performs, so the one window exchange here IS the write
    shuffle, not an extra one. Changing ``seed`` re-deals the entire
    corpus without touching any data bytes.

    Portable md5-based hash (not xxhash64) so a non-Spark engine can
    reproduce the exact training order — order reproducibility is the
    point of a deterministic shuffle.
    """
    h = portable_base_hash(
        F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
    ).alias("__h")
    shard = (F.col("__h") % F.lit(n_shards)).cast("int").alias("shard")
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.select(F.col(id_col), h)
        .select(id_col, "__h", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )


def temperature_weights(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.7,
) -> DataFrame:
    """Per-domain temperature-sampling weights (multilingual-LM style:
    w_d = p_d^alpha / sum(p^alpha), p_d = domain token share).

    The corpus reduces to |domains| rows (token sums are exact BIGINTs)
    before any float math; p is a deterministic double division and the
    tempered weights are summed as DECIMAL(28,18) so the renormalizing
    total has no float-order sensitivity. pow() itself is libm, though —
    JVM and DuckDB differ in the last ulp — so the pow-derived outputs
    (``weight``, ``epochs_vs_uniform``) are emitted rounded to 8
    decimals (~1e7x margin over the ulp noise) via ``stable_round``
    (engines' ROUND primitives disagree on half-ties); ``p`` is exact
    and emitted raw.
    """
    per = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokenize(text_col))).alias("n_tokens"),
    )
    total_tok = F.sum("n_tokens").over(Window.partitionBy())
    # class-8 NULL-safe divide: zero corpus token mass (all-NULL text)
    # must yield NULL p, not ANSI DIVIDE_BY_ZERO
    p = (
        F.col("n_tokens").cast("double")
        / F.when(total_tok > 0, total_tok.cast("double"))
    ).alias("p")
    # pow() output is an irrational double: quantize via stable_round
    # BEFORE the decimal accumulation (a raw double->decimal cast rounds
    # under each engine's own rule — the F.round divergence class).
    # Scale 12 keeps the stable_round guard (2^53/10^n) far above the
    # p^alpha <= 1 domain; scale 18 would disable the rounding entirely.
    stage = per.select(domain_col, "n_docs", "n_tokens", p).withColumn(
        "__w",
        stable_round(F.pow(F.col("p"), F.lit(alpha)), 12).cast(
            "decimal(28,12)"
        ),
    )
    total_w = F.sum("__w").over(Window.partitionBy())
    return stage.select(
        domain_col,
        "n_docs",
        "n_tokens",
        "p",
        stable_round(F.col("__w").cast("double") / total_w.cast("double"), 8).alias(
            "weight"
        ),
        stable_round(
            # p == 0 is REACHABLE on real data (one all-empty-text
            # domain among non-empty ones): NULL-divide, don't throw
            (F.col("__w").cast("double") / total_w.cast("double"))
            / F.when(F.col("p") > 0, F.col("p")),
            8,
        ).alias("epochs_vs_uniform"),
    )
