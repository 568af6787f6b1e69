"""Query helpers that more than one domain module uses.

The table loader, the DuckDB twins of the tokenizer and of the n-gram,
MinHash/LSH, dot-product and portable-hash-bucket operators, the
quality-score feature block, and the exact-cents daily revenue frame.
This module imports nothing from the registry or from a domain module,
so every domain module can import it first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from be_analytic_etl_spark.operators import sampling as SA
from be_analytic_etl_spark.operators import textstats as T


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from be_analytic_etl_spark.sources import load_table

    # documents/embeddings feed per-row compute-heavy ops (shingling, k
    # hashes, vector math); spread an under-partitioned scan across cores.
    return load_table(spark, sf_dir, name, spread=name in ("documents", "embeddings"))


# --- shared DuckDB SQL fragments -------------------------------------------

def _toks_sql(c: str) -> str:
    r"""tokenize() twin over the SQL expression ``c``: whitespace split of
    the trimmed text; blank -> empty list. Whitespace is the explicit
    WS_PLUS class, not \s — RE2's \s omits vertical tab while Java's
    includes it."""
    t = f"trim(coalesce({c}, ''))"
    return (
        f"CASE WHEN {t} = '' THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex({t}, '{T.WS_PLUS}') END"
    )


#: tokenize() twin over the documents' ``text`` column.
_TOKS = _toks_sql("text")


def _grams_sql(toks: str, n: int = 3) -> str:
    """word_ngrams() twin over a token-list expression."""
    return (
        f"list_distinct(CASE WHEN len({toks}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(range(0, greatest(len({toks}) - {n}, 0) + 1), "
        f"i -> array_to_string(list_slice({toks}, i + 1, i + {n}), ' ')) END)"
    )


def _pbase_sql(val: str) -> str:
    """portable_base_hash() twin: md5 hex head as 60-bit BIGINT mod p."""
    from be_analytic_etl_spark.operators.dedup import PORTABLE_P

    return f"(CAST('0x' || substr(md5({val}), 1, 15) AS BIGINT) % {PORTABLE_P})"


def _sig_sql(grams: str, num_hashes: int) -> str:
    """minhash_signature(portable=True) twin: per-shingle base hash, k
    affine transforms mod p, min per slot."""
    from be_analytic_etl_spark.operators.dedup import PORTABLE_P, portable_affine_params

    slots = []
    for a, b in portable_affine_params(num_hashes):
        slots.append(
            f"list_min(list_transform(bases, h -> (h * {a} + {b}) % {PORTABLE_P}))"
        )
    return (
        f"(SELECT [{', '.join(slots)}] FROM "
        f"(SELECT list_transform({grams}, x -> {_pbase_sql('x')}) AS bases))"
    )


def _dot_sql(a: str, b: str) -> str:
    """similarity.dot() twin: sequential left fold of elementwise double
    products (0.0-seeded fold == fold from first element, exactly)."""
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, x) -> acc + x)"
    )


_JACCARD = (
    "CASE WHEN len(list_distinct(list_cat(ga, gb))) = 0 THEN 0.0 "
    "ELSE CAST(len(list_intersect(ga, gb)) AS DOUBLE) "
    "/ len(list_distinct(list_cat(ga, gb))) END"
)


_STOP_SQL = "['the','a','an','of','and','or','to','in','is','it']"


# ---------------------------------------------------------------------------
# MinHash signatures (portable hash), exploded to (doc_id, seed, minhash)
# rows so the value-hash covers every signature slot.
_MH_HASHES = 8


_MH_SHINGLE = 3


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup pairs, fully oracle-checked: portable signatures,
# band buckets (oracle buckets on the raw band string — same partition as
# Spark's 64-bit band hash modulo ~2^-64 collisions), skew guard, exact
# Jaccard verification. Spark plan: shuffles carry only (id, signature),
# never documents; quadratic work confined to buckets (operators/dedup.py).
_LSH_BANDS = 4


_LSH_ROWS = _MH_HASHES // _LSH_BANDS


_LSH_THRESH = 0.6


_LSH_MAXBUCKET = 100


#: DuckDB twin of sampling.hash_bucket(key, salt).
def _bucket_sql(salt: str, key: str = "doc_id") -> str:
    return (
        f"(CAST('0x' || substr(md5(CAST({key} AS VARCHAR) || '|{salt}'), 1, 15) "
        f"AS BIGINT) % {SA.SPLIT_BUCKETS})"
    )


#: quality_score(round_to=None) as one DuckDB expression over the m-CTE
#: columns (n_tokens, n_chars, n_punct, n_stop) — shared by every
#: quality-scoring oracle (corpus report, token budget, percentile).
_QSCORE_SQL = (
    "least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) "
    "* greatest(0.0, 1.0 - (CASE WHEN n_chars = 0 THEN 0.0 "
    "ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 5.0) "
    "* (CASE WHEN (CASE WHEN n_tokens = 0 THEN 0.0 "
    "ELSE CAST(n_stop AS DOUBLE) / n_tokens END) BETWEEN 0.01 AND 0.6 "
    "THEN 1.0 ELSE 0.5 END)"
)


def qscore_feature_ctes(key_cols: str, extra_exprs: str = "") -> str:
    """The tok/m CTE block computing ``_QSCORE_SQL``'s inputs
    (n_tokens, n_chars, n_punct, n_stop) per documents row — the single
    source every quality-scoring oracle embeds, so the feature
    definitions can never drift from ``textstats.quality_score``.

    ``key_cols``: leading columns carried through (e.g. "doc_id, lang").
    ``extra_exprs``: additional m-level select items, ", "-prefixed
    (e.g. ", toks" when the caller also needs the token list).
    """
    return f"""tok AS (
        SELECT {key_cols}, coalesce(text, '') AS t, {_TOKS} AS toks
        FROM documents
    ), m AS (
        SELECT {key_cols}{extra_exprs},
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(length(t) AS INTEGER) AS n_chars,
               length(t) - length(regexp_replace(t, '[.,;:!?]', '', 'g'))
                   AS n_punct,
               len(list_filter(toks, x -> list_contains({_STOP_SQL}, lower(x))))
                   AS n_stop
        FROM tok
    )"""


#: DuckDB CTE chain computing quality_score(round_to=None) per doc_id
#: (tok -> m -> q yielding (doc_id, fingerprint, quality)) — the
#: feature block and score formula are single-sourced from
#: qscore_feature_ctes and _QSCORE_SQL, so they can
#: never drift from textstats.quality_score.
def _quality_ctes() -> str:
    return f"""{qscore_feature_ctes("doc_id", ", t")}, q AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(t)), '{T.WS_PLUS}', ' ', 'g')) AS fingerprint,
               {_QSCORE_SQL} AS quality
        FROM m
    )"""


# ===========================================================================
# The exact-cents daily revenue series: the calendar-bounded frame the
# time-series queries (events.py) and the weekend/weekday Hodges-Lehmann
# estimate (statistics.py) fold the events table into, once.

_DAILY_CENTS_SQL = (
    "SELECT CAST(ts AS DATE) AS day,"
    " CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)"
    " AS c"
    " FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1"
)


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    # Lazy-checkpoint the bounded daily frame: Mann-Kendall reads it
    # three times (both pair sides + ties) and ACF twice (num + den);
    # without this each branch would rescan the corpus (mixture_kl
    # discipline — one corpus pass, fan out from the materialized
    # control-plane frame).
    return (
        events.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(cents).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
