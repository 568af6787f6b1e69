"""Round-4 text-prep queries: normalization (mojibake / control chars /
whitespace), within-document line dedup, deterministic corpus shuffle,
and domain temperature-sampling weights.

The synthetic `documents` table is clean ASCII, so the normalization and
line-dedup queries first *synthesize* dirty input deterministically from
the clean text (the same trick br_number_parse uses with nation) — both
engines build byte-identical dirty strings, so the transform is genuinely
exercised, not a no-op over already-clean data.

Cross-engine rules as elsewhere: regexes in the Java-regex/RE2
intersection, literal replace chains generated from one shared constant
table, exact integer math before any float division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# registry first: it fully initializes the queries_* import chain, so a
# direct `import queries_textprep` (tests) can't re-enter a half-loaded
# queries_extensions.
from be_analytic_etl_spark.registry import register
from be_analytic_etl_spark.operators import normalize as N
from be_analytic_etl_spark.operators.textstats import PORTABLE_P, WS_PLUS
from be_analytic_etl_spark.functions.rounding import stable_round, stable_round_sql
from be_analytic_etl_spark.queries_extensions import _TOKS, _t

# ---------------------------------------------------------------------------
# ext_text_normalize: dirty text is synthesized by splicing every mojibake
# sequence, a BEL control char, a tab and double spaces into the clean
# document text; the normalizer must repair all of it. Output pins both
# the exact normalized bytes (md5) and the length deltas.

#: One dirty fragment containing every bad sequence in the repair table,
#: separated by spaces so the whitespace collapse is exercised too.
_DIRTY_FRAGMENT = "  ".join(bad for bad, _ in N.MOJIBAKE_PAIRS)
#: What the fragment must normalize to (goods joined by single spaces —
#: the trailing mojibake-NBSP pair repairs to ' ' and then collapses).
_CLEAN_FRAGMENT = " ".join(good for _, good in N.MOJIBAKE_PAIRS).rstrip()


def q_ext_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("\t "),
        F.substring("text", 1, 40),
        F.lit("  "),  # BEL: stripped by the control class
        F.lit(_DIRTY_FRAGMENT),
        F.lit("  "),
        F.substring("text", 41, 40),
        F.lit(" "),  # VT: stripped, then trailing space trimmed
    )
    stage = docs.select("doc_id", dirty.alias("dirty")).select(
        "doc_id",
        "dirty",
        N.normalize_text(F.col("dirty")).alias("norm"),
    )
    return stage.select(
        "doc_id",
        F.length("dirty").cast("long").alias("len_dirty"),
        F.length("norm").cast("long").alias("len_norm"),
        F.md5(F.col("norm").cast("binary")).alias("norm_md5"),
    )


def _normalize_sql(expr: str) -> str:
    """DuckDB twin of operators.normalize.normalize_text over ``expr``
    (same op order: control strip FIRST, then repair — see the
    operator's idempotence note)."""
    out = f"coalesce({expr}, '')"
    out = rf"regexp_replace({out}, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')"
    for bad, good in N.MOJIBAKE_PAIRS:
        out = f"replace({out}, '{bad}', '{good}')"
    out = rf"regexp_replace({out}, '{WS_PLUS}', ' ', 'g')"
    return f"trim({out})"


register(
    "ext_text_normalize",
    q_ext_text_normalize,
    f"""
    WITH dirty AS (
        SELECT doc_id,
               chr(9) || ' ' || substr(text, 1, 40) || ' ' || chr(7) || ' '
               || '{_DIRTY_FRAGMENT}' || '  ' || substr(text, 41, 40)
               || ' ' || chr(11) AS dirty
        FROM documents
    )
    SELECT doc_id,
           CAST(length(dirty) AS BIGINT) AS len_dirty,
           CAST(length({_normalize_sql("dirty")}) AS BIGINT) AS len_norm,
           md5({_normalize_sql("dirty")}) AS norm_md5
    FROM dirty
    """,
)


# ---------------------------------------------------------------------------
# ext_line_dedup: within-document first-occurrence sentence dedup (Dolma's
# within-doc pass; curation.paragraph_dedup is the corpus-wide variant).
# The fixture repeats sentence s1 inside each synthesized document, so
# every doc has a real duplicate to drop. Fully map-only in Spark (array
# filter on first-occurrence index) — the zero-shuffle scale story is the
# point of the within-doc variant.

def q_ext_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    s1 = F.substring("text", 1, 30)
    s2 = F.substring("text", 31, 30)
    s3 = F.substring("text", 61, 30)
    doc = F.concat_ws(". ", s1, s2, s1, s3)
    return N.line_dedup_within_doc(
        docs.select("doc_id", doc.alias("text")), text_col="text"
    ).select(
        "doc_id",
        "n_parts",
        "n_kept",
        "kept_ratio",
        F.md5(F.col("rebuilt").cast("binary")).alias("rebuilt_md5"),
    )


register(
    "ext_line_dedup",
    q_ext_line_dedup,
    """
    WITH fix AS (
        SELECT doc_id,
               concat_ws('. ', substr(text, 1, 30), substr(text, 31, 30),
                         substr(text, 1, 30), substr(text, 61, 30)) AS t
        FROM documents
    ), split AS (
        SELECT doc_id, string_split(coalesce(t, ''), '. ') AS toks FROM fix
    ), kept AS (
        SELECT doc_id, toks,
               list_filter(toks, (x, i) -> list_position(toks, x) = i) AS first_only
        FROM split
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_parts,
           CAST(len(first_only) AS BIGINT) AS n_kept,
           CAST(len(first_only) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS kept_ratio,
           md5(array_to_string(first_only, '. ')) AS rebuilt_md5
    FROM kept
    """,
)


# ---------------------------------------------------------------------------
# ext_corpus_shuffle: deterministic hash permutation + shard assignment
# (reproducible training order). One exchange total — the same shuffle the
# shard writer needs. Portable md5 hash so any engine can replay the order.

_SHUFFLE_SEED = 42
_N_SHARDS = 8


def q_ext_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return N.corpus_shuffle(docs, n_shards=_N_SHARDS, seed=_SHUFFLE_SEED)


register(
    "ext_corpus_shuffle",
    q_ext_corpus_shuffle,
    f"""
    WITH h AS (
        SELECT doc_id,
               CAST('0x' || substr(md5('{_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % {PORTABLE_P} AS hh
        FROM documents
    )
    SELECT doc_id,
           CAST(hh % {_N_SHARDS} AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY hh % {_N_SHARDS} ORDER BY hh, doc_id)
                AS BIGINT) AS pos
    FROM h
    """,
)


# ---------------------------------------------------------------------------
# ext_temperature_weights: per-domain tempered sampling weights
# (w_d ∝ p_d^0.7, the multilingual-LM upsampling rule). Corpus reduces to
# |domains| rows before any float math; the renormalizing sum runs in
# DECIMAL so neither engine's float addition order matters.

_ALPHA = 0.7


def q_ext_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return N.temperature_weights(docs, domain_col="source", alpha=_ALPHA)


register(
    "ext_temperature_weights",
    q_ext_temperature_weights,
    f"""
    WITH per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ), p AS (
        SELECT source, n_docs, n_tokens,
               CAST(n_tokens AS DOUBLE)
                   / (CASE WHEN SUM(n_tokens) OVER () > 0
                           THEN CAST(SUM(n_tokens) OVER () AS DOUBLE) END) AS p
        FROM per
    ), w AS (
        SELECT *, CAST((CASE WHEN (pow(p, {_ALPHA})) IS NULL OR isnan(pow(p, {_ALPHA})) OR abs(pow(p, {_ALPHA})) >= 9007.199254740992 THEN (pow(p, {_ALPHA})) ELSE floor((pow(p, {_ALPHA})) * 1000000000000.0 + 0.5) / 1000000000000.0 END) AS DECIMAL(28,12)) AS w_dec FROM p
    )
    -- pow() is libm (engine ulp differences): pow-derived outputs are
    -- emitted floor-formula-rounded on both sides (ROUND primitives
    -- disagree on half-ties); p is an exact division, raw.
    SELECT source, n_docs, n_tokens, p,
           {stable_round_sql("CAST(w_dec AS DOUBLE) / CAST(SUM(w_dec) OVER () AS DOUBLE)", 8)}
               AS weight,
           {stable_round_sql("((CAST(w_dec AS DOUBLE) / CAST(SUM(w_dec) OVER () AS DOUBLE)) / (CASE WHEN p > 0 THEN p END))", 8)}
               AS epochs_vs_uniform
    FROM w
    """,
)


# ---------------------------------------------------------------------------
# ext_quality_classifier: fastText-style hashed linear scorer (map-only;
# the inference half of a learned quality filter — weights are a fixed
# deterministic vector standing in for trained parameters, exactly as the
# lowest-id "centroids" stand in for trained k-means in the ANN family).

def q_ext_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    score = hashed_linear_score("text")
    # exp() inside the sigmoid is libm (engine ulp differences): emit the
    # score rounded. keep compares the UNROUNDED score on both sides —
    # sigmoid is monotone, so it equals raw >= 0, which both engines
    # compute identically (fixed-order sum of identical doubles).
    return docs.select(
        "doc_id",
        stable_round(score, 6).alias("score"),
        (score >= 0.5).alias("keep"),
    )


def _qc_oracle() -> str:
    from be_analytic_etl_spark.operators.textstats import QC_BIAS, QC_BUCKETS, qc_weights

    w_sql = "[" + ",".join(repr(x) for x in qc_weights()) + "]"
    per_tok = (
        f"list_transform({_TOKS}, t -> {w_sql}["
        f"CAST((CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % {PORTABLE_P})"
        f" % {QC_BUCKETS} AS INTEGER) + 1])"
    )
    raw = f"list_reduce([CAST({QC_BIAS!r} AS DOUBLE)] || {per_tok}, (x, y) -> x + y)"
    return f"""
    SELECT doc_id,
           {stable_round_sql(f"1.0 / (1.0 + exp(-({raw})))", 6)} AS score,
           (1.0 / (1.0 + exp(-({raw}))) >= 0.5) AS keep
    FROM documents
    """


register("ext_quality_classifier", q_ext_quality_classifier, _qc_oracle())


# ---------------------------------------------------------------------------
# ext_variant_json: Spark 4 VARIANT ingestion — parse the props JSON once
# into the binary variant encoding, then typed variant_get extraction
# (the shredding-friendly path a 100 TB semi-structured column should
# take: parse once, extract many, no per-path string re-parse the way
# repeated get_json_object calls do).

def q_ext_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    missing = F.try_variant_get(v, "$.not_there", "string")
    return (
        ev.select("event_type", k.alias("k"), missing.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_k"),
            F.sum(F.when(F.col("m").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_missing"),
        )
    )


register(
    "ext_variant_json",
    q_ext_variant_json,
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.not_there') IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_null_missing
    FROM events GROUP BY event_type
    """,
)


# ---------------------------------------------------------------------------
# ext_preference_pairs: RLHF-style (chosen, rejected) pair construction —
# per language group, the highest- and lowest-scoring documents under the
# hashed linear quality model, with the score margin. ONE shuffle: scores
# are map-side, the per-group argmax/argmin are struct-min aggregates
# (partial-agg'd), no window, no self-join.

def q_ext_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    s = docs.select(
        "lang", "doc_id", hashed_linear_score("text").alias("score")
    )
    chosen = F.min(
        F.struct(
            (-F.col("score")).alias("ns"),
            F.col("doc_id").alias("id"),
            F.col("score").alias("s"),
        )
    )
    rejected = F.min(
        F.struct(
            F.col("score").alias("s"),
            F.col("doc_id").alias("id"),
        )
    )
    agg = s.groupBy("lang").agg(chosen.alias("__c"), rejected.alias("__r"))
    # Selection (min/max by score) runs on the RAW sigmoid — monotone, so
    # a last-ulp exp() delta can only flip it on a sub-ulp tie. The
    # EMITTED scores/margin are rounded: exp() is libm and its ulp noise
    # is engine-specific (same class as ext_quality_classifier).
    return agg.select(
        "lang",
        F.col("__c.id").alias("chosen_id"),
        stable_round(F.col("__c.s"), 6).alias("chosen_score"),
        F.col("__r.id").alias("rejected_id"),
        stable_round(F.col("__r.s"), 6).alias("rejected_score"),
        stable_round(F.col("__c.s") - F.col("__r.s"), 6).alias("margin"),
    )


def _pref_oracle() -> str:
    from be_analytic_etl_spark.operators.textstats import QC_BIAS, QC_BUCKETS, qc_weights

    w_sql = "[" + ",".join(repr(x) for x in qc_weights()) + "]"
    per_tok = (
        f"list_transform({_TOKS}, t -> {w_sql}["
        f"CAST((CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % {PORTABLE_P})"
        f" % {QC_BUCKETS} AS INTEGER) + 1])"
    )
    raw = f"list_reduce([CAST({QC_BIAS!r} AS DOUBLE)] || {per_tok}, (x, y) -> x + y)"
    return f"""
    WITH s AS (
        SELECT lang, doc_id, 1.0 / (1.0 + exp(-({raw}))) AS score FROM documents
    ), c AS (
        SELECT lang, doc_id, score,
               row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn
        FROM s
    ), r AS (
        SELECT lang, doc_id, score,
               row_number() OVER (PARTITION BY lang ORDER BY score ASC, doc_id) AS rn
        FROM s
    )
    SELECT c.lang,
           c.doc_id AS chosen_id, {stable_round_sql("c.score", 6)} AS chosen_score,
           r.doc_id AS rejected_id, {stable_round_sql("r.score", 6)} AS rejected_score,
           {stable_round_sql("c.score - r.score", 6)} AS margin
    FROM c JOIN r ON c.lang = r.lang
    WHERE c.rn = 1 AND r.rn = 1
    """


register("ext_preference_pairs", q_ext_preference_pairs, _pref_oracle())


# ---------------------------------------------------------------------------
# ext_pipeline_spec: the end-to-end curation chain declared as a JSON-able
# pipeline spec and composed by pipeline.run_pipeline; registered as
# ext_pipeline_e2e (queries_round11.py) against the recursive-CTE oracle
# PIPELINE_ORACLE_SQL.

def q_ext_pipeline_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.textstats import tokenize
    from be_analytic_etl_spark.pipeline import run_pipeline
    from be_analytic_etl_spark.queries_extensions import (
        _LSH_BANDS,
        _LSH_MAXBUCKET,
        _LSH_THRESH,
        _MH_HASHES,
        _MH_SHINGLE,
        _PIPE_MIN_CHARS,
        _PIPE_MIN_TOKENS,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    spec = [
        {"op": "quality_gate", "min_chars": _PIPE_MIN_CHARS, "min_tokens": _PIPE_MIN_TOKENS},
        {"op": "exact_dedup"},
        {
            "op": "near_dedup",
            "num_hashes": _MH_HASHES,
            "bands": _LSH_BANDS,
            "shingle_n": _MH_SHINGLE,
            "jaccard_threshold": _LSH_THRESH,
            "max_bucket": _LSH_MAXBUCKET,
            "portable": True,
        },
        {"op": "split"},
    ]
    out = run_pipeline(docs, spec)
    return out.select(
        "doc_id", "lang", F.size(tokenize("text")).alias("n_tokens"), "split"
    )


# ---------------------------------------------------------------------------
# ext_isotonic_trend: monotone-calibrated per-day value trend per event
# type — PAVA via grouped applyInPandas (the sequential-within-series /
# parallel-across-groups algorithm class SQL cannot express directly).
# Value-checked since round 6 via the closed-form minimax identity: the
# query runs BOTH fits in Spark — O(n) PAVA (the production long-series
# path) and the O(n^3)-per-group minimax lattice (pure Column algebra,
# independently oracled as ext_isotonic_minimax) — joins them per
# (event_type, day) and emits the minimax-disciplined fit plus an
# ``agree`` flag (|pava - minimax| < 1e-9). Both compute the SAME
# mathematical solution (Robertson/Wright/Dykstra Thm 1.4.4), so any
# PAVA defect flips agree rows to false and the driver hash goes red;
# emitted doubles ride the decimal-exact minimax discipline rather than
# betting on a Python summation order being bit-identical to SQL.
# The DuckDB oracle replays the lattice and asserts agree = TRUE.

def q_ext_isotonic_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.regression import (
        isotonic_fit,
        isotonic_fit_minimax,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
        .cast("double")
        .alias("day"),
    ).agg(
        stable_round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        )
        .cast("decimal(18,6)")
        .alias("y6")
    )
    pava = isotonic_fit(
        daily.select("event_type", "day", F.col("y6").cast("double").alias("y")),
        "event_type",
        "day",
        "y",
    ).select("event_type", "day", F.col("y_iso").alias("__y_pava"))
    mm = isotonic_fit_minimax(daily, "event_type", "day", "y6")
    return mm.join(pava, ["event_type", "day"]).select(
        "event_type",
        "day",
        "y",
        "y_iso",
        (F.abs(F.col("y_iso") - F.col("__y_pava")) < F.lit(1e-9)).alias("agree"),
    )


def _isotonic_trend_oracle() -> str:
    # the minimax lattice (see _isotonic_minimax_oracle) + agree = TRUE:
    # the oracle's claim is precisely "PAVA equals the closed form".
    # Registered below ext_isotonic_minimax (its oracle body is shared).
    base = _isotonic_minimax_oracle()
    anchor = "SELECT p.event_type, p.day, CAST(p.y6 AS DOUBLE) AS y, f.y_iso"
    out = base.replace(anchor, anchor + ", TRUE AS agree")
    # a silent no-op replace would surface in the driver as a confusing
    # column-count mismatch far from the cause — fail loudly at import
    if out == base:
        raise AssertionError(
            "_isotonic_trend_oracle: anchor line not found in the minimax "
            "oracle — keep the two in lockstep"
        )
    return out


# ---------------------------------------------------------------------------
# ext_udtf_sentences: Python UDTF (Spark 4) in a LATERAL join — the
# table-function escape hatch for 1:N row expansion that needs imperative
# Python. Deliberately given semantics a SQL twin CAN replicate (split on
# '. ', whitespace token counts), so the UDTF plumbing itself is value-
# checked. The docstring caveat applies at scale: this crosses the Python
# boundary per row — prefer the native array exprs (curation.chunk_tokens,
# normalize.line_dedup_within_doc) for anything hot; the UDTF form exists
# for logic that genuinely needs Python (and is Arrow-batched like
# mapInPandas when it does).

def q_ext_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, sentence string, n_toks int")
    class SentenceSplit:
        def eval(self, text: str):
            for i, s in enumerate((text or "").split(". ")):
                yield i, s, len(s.split())

    spark.udtf.register("graft_sentence_split", SentenceSplit)
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, md5(CAST(s.sentence AS BINARY)) AS sentence_md5,
               s.n_toks
        FROM __udtf_docs d, LATERAL graft_sentence_split(coalesce(d.text, '')) s
        """
    )


register(
    "ext_udtf_sentences",
    q_ext_udtf_sentences,
    rf"""
    WITH parts AS (
        SELECT doc_id, string_split(coalesce(text, ''), '. ') AS ps FROM documents
    )
    SELECT doc_id,
           CAST(u.e.pos AS INTEGER) AS pos,
           md5(u.e.s) AS sentence_md5,
           CAST(len(CASE WHEN trim(u.e.s) = '' THEN CAST([] AS VARCHAR[])
                         ELSE string_split_regex(trim(u.e.s), '{WS_PLUS}') END)
                AS INTEGER) AS n_toks
    FROM parts,
         unnest(list_apply(ps, (x, i) -> struct_pack(pos := i - 1, s := x))) u(e)
    """,
)


# ---------------------------------------------------------------------------
# ext_isotonic_minimax: the SAME monotone daily-trend fit as
# ext_isotonic_trend, via the closed-form minimax identity
# y_iso[i] = max_{j<=i} min_{k>=i} mean(y[j..k]) — pure Column algebra,
# so the one previously rows-only operator family gains a fully
# value-checked oracle twin. Daily means are stable_round-ed to
# DECIMAL(18,6) first; segment means are exact decimal prefix-sum
# differences cast to double + ONE IEEE division, so the min/max lattice
# replays bit-identically in DuckDB. PAVA (isotonic_fit) stays the O(n)
# production path for long series; this is the short-series/cross-check
# shape (n = ~30 days here).
def q_ext_isotonic_minimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from be_analytic_etl_spark.operators.regression import isotonic_fit_minimax

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
        .cast("double")
        .alias("day"),
    ).agg(
        stable_round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        )
        .cast("decimal(18,6)")
        .alias("y6")
    )
    return isotonic_fit_minimax(daily, "event_type", "day", "y6")


def _isotonic_minimax_oracle() -> str:
    avg_sql = stable_round_sql(
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)", 6
    )
    return f"""
    WITH daily AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS DOUBLE) AS day,
               CAST({avg_sql} AS DECIMAL(18,6)) AS y6
        FROM events GROUP BY 1, 2
    ), pos AS (
        SELECT event_type, day, y6,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
               SUM(y6) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS s
        FROM daily
    ), seg AS (
        SELECT a.event_type, a.rn AS j, b.rn AS k,
               CAST(b.s - (a.s - a.y6) AS DOUBLE)
                   / CAST(b.rn - a.rn + 1 AS DOUBLE) AS m
        FROM pos a JOIN pos b
          ON a.event_type = b.event_type AND a.rn <= b.rn
    ), im AS (
        SELECT i.event_type, i.rn AS i, s.j, MIN(s.m) AS mn
        FROM pos i JOIN seg s
          ON s.event_type = i.event_type AND s.j <= i.rn AND s.k >= i.rn
        GROUP BY i.event_type, i.rn, s.j
    ), fit AS (
        SELECT event_type, i, MAX(mn) AS y_iso FROM im GROUP BY event_type, i
    )
    SELECT p.event_type, p.day, CAST(p.y6 AS DOUBLE) AS y, f.y_iso
    FROM pos p JOIN fit f ON p.event_type = f.event_type AND p.rn = f.i
    """


register(
    "ext_isotonic_minimax", q_ext_isotonic_minimax, _isotonic_minimax_oracle()
)
register("ext_isotonic_trend", q_ext_isotonic_trend, _isotonic_trend_oracle())
