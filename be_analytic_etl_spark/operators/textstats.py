"""Text analysis operators for large-scale training-data pipelines.

Language-ID (marker-token heuristic), quality scoring (length / punctuation
/ stopword ratios), token counting, and document fingerprinting — each a
pure column expression (JVM-side, codegen-friendly) over a text column, so
the cost at 100 TB is one narrow pass, no shuffle, no Python boundary.

The tokenizer, the n-gram shingles, the ratios, the quality score and the
language scores are each defined once, as SQL text over a SQL expression
(the ``_*_sql`` builders). The public function takes a column NAME, pastes
it through ``quote_ident`` and returns ``F.expr`` of the text: the whole
tree is parsed in one py4j round trip, however large it is.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.rounding import stable_round
from be_analytic_etl_spark.functions.sqltext import quote_ident

#: Explicit whitespace class, byte-identical in Java regex (Spark) and
#: RE2 (DuckDB). Java's ``\s`` is ``[ \t\n\x0B\f\r]`` while RE2's omits
#: vertical tab, so a VT-bearing document silently diverges between the
#: engines (ADVICE r11 #2) — ``\s`` is therefore banned from every
#: engine-paired pattern in favor of these constants. The literal
#: backslash escapes are interpreted identically by Java regex (when
#: passed straight from Python) and by RE2 (when embedded in a DuckDB
#: single-quoted literal, which keeps backslashes raw). Spark *SQL
#: expression strings* unescape once at parse time — use the
#: ``_SQLEXPR`` variant there.
WS_CHARS = r" \t\n\r\f\x0B"
WS_CLASS = "[" + WS_CHARS + "]"
WS_PLUS = WS_CLASS + "+"
WS_PLUS_SQLEXPR = WS_PLUS.replace("\\", "\\\\")


def _tokenize_sqltext(c: str) -> str:
    """Whitespace tokenization of the SQL expression ``c`` as SQL text:
    empty/blank text -> empty array. The one definition of the split;
    the n-gram, ratio, score and language texts below, the minhash
    signature and the ``token_count`` SQL UDF all build on it."""
    t = f"trim(coalesce({c}, ''))"
    return (
        f"CASE WHEN {t} = '' THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split({t}, '{WS_PLUS_SQLEXPR}') END"
    )


def tokenize(col: str) -> Column:
    """Whitespace tokenization of the column named ``col``; empty/blank
    text -> empty array."""
    return F.expr(_tokenize_sqltext(quote_ident(col)))


def _token_count_sql(c: str) -> str:
    return f"size({_tokenize_sqltext(c)})"


def token_count(col: str) -> Column:
    return F.expr(_token_count_sql(quote_ident(col)))


#: BPE-style pre-tokenization shape (letter runs | digit runs | single
#: non-alnum mark), restricted to character classes whose semantics are
#: identical in Java regex (Spark) and RE2 (DuckDB) so the count is
#: oracle-checkable. Real BPE vocabularies pre-split on exactly this kind
#: of pattern before merging.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9" + WS_CHARS + "]"


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: number of BPE-pretokenizer matches.

    Counts letter runs, digit runs, and individual punctuation marks —
    a closer proxy for LLM token cost than whitespace words ('don't!' is
    1 whitespace token but 4 BPE-ish tokens).
    """
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN))


#: 31-bit Mersenne prime — modulus of every portable hash in the engine.
#: (p-1)^2 fits a 64-bit signed int, so neither engine overflows.
PORTABLE_P = 2_147_483_647

#: Polynomial base for the rolling fingerprint. p * ROLL_B + p < 2^63.
ROLL_B = 31


def portable_hash60(col: Column) -> Column:
    """Raw 60-bit hash both Spark and DuckDB compute identically: first 15
    hex chars of md5(value) parsed base-16 (no reduction).

    DuckDB twin: ``CAST('0x' || substr(md5(v), 1, 15) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


def portable_base_hash(col: Column) -> Column:
    """60-bit portable hash reduced mod p (the universal-hash base).

    DuckDB twin:
    ``CAST('0x' || substr(md5(v), 1, 15) AS BIGINT) % 2147483647``."""
    return portable_hash60(col) % F.lit(PORTABLE_P)


def rolling_fingerprint(col: str) -> Column:
    """Order-sensitive polynomial rolling hash over the token stream:
    ``fp = fold(acc * B + h(token)) mod p`` with the portable base hash.

    Unlike ``fingerprint_md5`` (one hash of the whole normalized string),
    the rolling form extends incrementally — the shape used for streaming /
    shingle fingerprints at scale. Empty text folds to 0. Pure column
    expressions; DuckDB twin is ``list_reduce([0] || hashes, ...)``.
    """
    toks = tokenize(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLL_B + portable_base_hash(t)) % PORTABLE_P,
    )


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.coalesce(c, F.lit("")))


#: Punctuation class used by the quality score (explicit set so the DuckDB
#: oracle can replicate it exactly).
PUNCT_CLASS = r"[.,;:!?]"


def _punct_ratio_sql(c: str) -> str:
    cc = f"coalesce({c}, '')"
    return (
        f"CASE WHEN length({cc}) = 0 THEN 0.0D "
        f"ELSE CAST(length({cc}) - length(regexp_replace({cc},"
        f" '{PUNCT_CLASS}', '')) AS DOUBLE) / length({cc}) END"
    )


def punct_ratio(col: str) -> Column:
    """Fraction of characters that are punctuation; 0.0 for empty text."""
    return F.expr(_punct_ratio_sql(quote_ident(col)))


#: Small English stopword list for the quality heuristic.
STOPWORDS = ["the", "a", "an", "of", "and", "or", "to", "in", "is", "it"]


def _in_list_count_sql(toks: str, words: list[str]) -> str:
    """SQL text: how many elements of the token array ``toks`` match one
    of ``words``, lower-cased."""
    return (
        f"size(filter({toks}, tk -> lower(tk) IN ("
        + ",".join(f"'{w.lower()}'" for w in words)
        + ")))"
    )


def _stopword_ratio_sql(c: str) -> str:
    toks = _tokenize_sqltext(c)
    return (
        f"CASE WHEN size({toks}) = 0 THEN 0.0D "
        f"ELSE CAST({_in_list_count_sql(toks, STOPWORDS)}"
        f" AS DOUBLE) / size({toks}) END"
    )


def stopword_ratio(col: str) -> Column:
    """Fraction of tokens that are stopwords (lower-cased match)."""
    return F.expr(_stopword_ratio_sql(quote_ident(col)))


def _quality_score_sql(c: str) -> str:
    """``quality_score`` of the SQL expression ``c`` as SQL text, built
    from the token-count, punctuation-ratio and stopword-ratio texts.
    The operation order is the one the DuckDB oracles replay bit for bit
    (``_QSCORE_SQL``). Double literals carry the ``D`` suffix so they
    parse as DOUBLE, not DECIMAL."""
    len_score = f"least(CAST({_token_count_sql(c)} AS DOUBLE) / 20.0D, 1.0D)"
    punct_penalty = f"greatest(0.0D, 1.0D - ({_punct_ratio_sql(c)}) * 5.0D)"
    fluency = (
        f"CASE WHEN ({_stopword_ratio_sql(c)}) BETWEEN 0.01D AND 0.6D "
        "THEN 1.0D ELSE 0.5D END"
    )
    return f"{len_score} * ({punct_penalty}) * ({fluency})"


def quality_score(col: str, round_to: int | None = 4) -> Column:
    """Composite [0,1] quality heuristic: long enough, not punctuation-heavy,
    reasonable stopword density (a fluency proxy).

    ``round_to=None`` returns the raw double — every input is an exact
    integer division, so the product is bit-identical across engines and
    safer for oracle comparison than rounding (which has tie hazards).
    """
    score = F.expr(_quality_score_sql(quote_ident(col)))
    return F.round(score, round_to) if round_to is not None else score


#: Marker tokens per language for the n-gram/keyword language heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "with"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "das", "und", "ist"],
    "pt": ["o", "a", "de", "que", "em"],
}


def _lang_scores_sql(c: str) -> dict[str, str]:
    toks = _tokenize_sqltext(c)
    return {
        lang: _in_list_count_sql(toks, markers)
        for lang, markers in LANG_MARKERS.items()
    }


def lang_scores(col: str) -> dict[str, Column]:
    """Marker-token hit count per language (deterministic, SQL-replicable)."""
    return {
        lang: F.expr(score)
        for lang, score in _lang_scores_sql(quote_ident(col)).items()
    }


def lang_id(col: str, default: str = "und") -> Column:
    """Argmax language by marker score: first language (sorted code order)
    holding the maximal score; all-zero scores -> ``default``."""
    score = _lang_scores_sql(quote_ident(col))
    langs = sorted(score)
    mx = "greatest(" + ",".join(score[lang] for lang in langs) + ")"
    chain = f"CASE WHEN {mx} = 0 THEN '{default}' " + "".join(
        f"WHEN {score[lang]} = {mx} THEN '{lang}' " for lang in langs
    )
    return F.expr(chain + f"ELSE '{default}' END")


#: PII-ish redaction patterns -> replacement tokens. Restricted to regex
#: constructs with identical semantics in Java regex (Spark) and RE2
#: (DuckDB) so redaction is oracle-checkable. Order matters: emails first
#: (their local parts contain digit runs). Quantifiers are BOUNDED at
#: the RFC 5321 limits (64-char local part, 255-char domain, 63-char
#: TLD): with the unbounded `+`, Java's scan re-consumes the rest of an
#: email-alphabet run at EVERY failed start position — O(n^2), ~10^12
#: steps on the string-poisoned gate's 1 MB single token (a live hang);
#: bounded, each failed position costs <= 64 steps, O(n) total. RFC-
#: valid emails match identically.
REDACT_PATTERNS: list[tuple[str, str]] = [
    (
        r"[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,63}",
        "<EMAIL>",
    ),
    (r"[0-9]{6,}", "<NUM>"),
]


def redact_pii(col: Column | str) -> Column:
    """Replace email addresses and long digit runs with placeholder tokens —
    the pre-training privacy scrub. Pure regexp_replace chain: one narrow
    JVM-side pass, no shuffle, linear at any scale."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    for pat, tok in REDACT_PATTERNS:
        c = F.regexp_replace(c, pat, tok)
    return c


def redaction_count(col: Column | str) -> Column:
    """How many spans redact_pii would replace (audit metric)."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    total = F.lit(0)
    for pat, _ in REDACT_PATTERNS:
        total = total + F.regexp_count(c, F.lit(pat))
        c = F.regexp_replace(c, pat, "")  # don't double-count digit runs inside emails
    return total


def fingerprint_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: trim, lowercase, collapse runs of
    whitespace to single spaces. (``normalize.normalize_text`` is the
    unrelated mojibake/Unicode repair of the pipeline's normalize stage.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(F.coalesce(c, F.lit("")))), WS_PLUS, " ")


def fingerprint_md5(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(fingerprint_text(col).cast("binary"))


def _let_tokens_sql(c: str, body: str) -> str:
    """SQL text: ``body`` over the lambda variable ``toks`` bound ONCE to
    the token array of ``c``. A single-element transform is the
    expression-level let (see ``functions.let``): without it
    CollapseProject re-inlines the regex split at each of the body's
    three references — measured ~4x overcomputation on real documents."""
    return f"element_at(transform(array({_tokenize_sqltext(c)}), toks -> {body}), 1)"


def _word_ngrams_sql(c: str, n: int) -> str:
    return _let_tokens_sql(
        c,
        "array_distinct(CASE WHEN size(toks) = 0 "
        "THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(0, greatest(size(toks) - {n}, 0)), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {n}))) END)",
    )


def word_ngrams(col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (array<string>); shorter docs yield the
    whole-doc shingle so no document maps to an empty set."""
    return F.expr(_word_ngrams_sql(quote_ident(col), n))


def word_ngrams_all(col: str, n: int = 2) -> Column:
    """ALL consecutive word n-grams, duplicates kept (array<string>) —
    the counting companion to ``word_ngrams`` (which dedups for shingle
    sets). Documents shorter than ``n`` tokens yield an empty array:
    repetition statistics over them are undefined, not "one short gram".
    """
    return F.expr(
        _let_tokens_sql(
            quote_ident(col),
            f"CASE WHEN size(toks) < {n} THEN CAST(array() AS ARRAY<STRING>) "
            f"ELSE transform(sequence(0, size(toks) - {n}), "
            f"i -> concat_ws(' ', slice(toks, i + 1, {n}))) END",
        )
    )


def repetition_stats(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 2,
):
    """Intra-document repetition metrics — the Gopher/MassiveText-style
    repetition filters (Rae et al. 2021, §A1.1): duplicate-token fraction
    and most-frequent-n-gram fraction. High values flag boilerplate,
    keyword stuffing, and degenerate generations before they reach
    training.

    Returns one row per document:
      n_tokens, n_distinct_tokens, dup_token_frac (1 - distinct/total),
      n_grams, top_gram_cnt, top_gram_frac (count of the modal n-gram /
      all n-grams; 0 when the doc is shorter than ``ngram_n``).

    Scale: token stats are pure map-side array expressions; the n-gram
    mode needs one shuffle on (id, gram) + one map-side-combined rollup to
    (id) — the shuffle carries grams of repeated text only once per
    (doc, gram) after partial aggregation. Nothing is quadratic; no
    Python.
    """
    from pyspark.sql import DataFrame  # noqa: F401  (typing only)

    base = df.select(
        F.col(id_col),
        tokenize(text_col).alias("__toks"),
        word_ngrams_all(text_col, ngram_n).alias("__grams"),
    )
    doc = base.select(
        id_col,
        F.size("__toks").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).alias("n_distinct_tokens"),
    )
    gram_cnt = (
        base.select(id_col, F.explode("__grams").alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = gram_cnt.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"), F.max("c").alias("top_gram_cnt")
    )
    dup_frac = F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.col("n_distinct_tokens").cast("double") / F.col("n_tokens").cast("double")
    )
    top_frac = F.when(F.coalesce(F.col("n_grams"), F.lit(0)) == 0, F.lit(0.0)).otherwise(
        F.col("top_gram_cnt").cast("double") / F.col("n_grams").cast("double")
    )
    return (
        doc.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_distinct_tokens",
            dup_frac.alias("dup_token_frac"),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("top_gram_cnt"), F.lit(0)).alias("top_gram_cnt"),
            top_frac.alias("top_gram_frac"),
        )
    )


def token_frequency_spectrum(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus frequency spectrum (count-of-counts): for each occurrence
    count ``freq``, how many distinct token types occur exactly ``freq``
    times, and how much token mass they carry.

    This is the input to Good-Turing / Kneser-Ney smoothing (N_1, N_2, ...
    in the LM literature) and the standard corpus diagnostic for
    vocabulary health: a crawl with an inflated singleton fraction
    (N_1 / V) is full of noise tokens; boilerplate shows up as excess
    high-frequency mass.

    Scale: the token count is one (token)-keyed shuffle with map-side
    partial aggregation — the same shape as a vocabulary build; the
    spectrum rollup then shuffles only (count, n_types) pairs, a frame
    whose size is the number of DISTINCT counts (~thousands at any corpus
    size, Zipf guarantees it). No step is proportional to documents after
    the first aggregation.

    Returns ``(freq, n_types, token_mass)``.
    """
    tok = (
        df.select(F.explode(tokenize(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tok.groupBy(F.col("c").alias("freq")).agg(
        F.count(F.lit(1)).alias("n_types"),
        (F.col("freq") * F.count(F.lit(1))).cast("long").alias("token_mass"),
    )


def bigram_lm_stats(
    df: DataFrame,
    text_col: str = "text",
    k: float = 0.5,
    top_n: int = 100,
) -> DataFrame:
    """Add-k-smoothed bigram language-model statistics: the ``top_n``
    corpus bigrams with their conditional probability
    ``P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V)`` (Lidstone smoothing,
    the baseline every LM-data ablation reports before KN).

    The numbers drive data curation directly: a bigram whose smoothed
    conditional probability is near 1 across a source is boilerplate
    (navigation chrome, licenses); low-probability mass concentrated in
    few contexts flags template spam.

    Scale: bigram and unigram counts are each one partial-aggregated
    shuffle over token pairs/tokens; the conditional join co-shuffles on
    ``w1`` (vocabulary-sized, NOT corpus-sized); V reduces to one scalar
    row broadcast with the result. Top-n is TakeOrdered — no global sort.
    Determinism: probabilities are integer counts pushed through one
    fixed double expression, bit-replayable in SQL.
    """
    toks = df.select(tokenize(text_col).alias("__t")).filter(F.size("__t") >= 2)
    big = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__t) - 1), "
                    "i -> struct(__t[i - 1] AS w1, __t[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_bigram"))
    )
    uni = (
        df.select(F.explode(tokenize(text_col)).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_unigram"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("__v"))
    top = (
        big.join(uni, "w1")
        .orderBy(F.col("c_bigram").desc(), F.col("w1"), F.col("w2"))
        .limit(top_n)
    )
    return top.crossJoin(F.broadcast(vocab)).select(
        "w1",
        "w2",
        "c_bigram",
        "c_unigram",
        (
            (F.col("c_bigram") + F.lit(k))
            / (F.col("c_unigram") + F.lit(k) * F.col("__v"))
        ).alias("p_smoothed"),
    )


def bigram_lm_doc_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    lm_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document language-model score: mean log P(w2|w1) under an
    add-k-smoothed bigram LM, plus the derived perplexity — the classic
    KenLM-style quality filter (CCNet, Wenzek et al., LREC 2020) with the
    corpus itself as the model when ``lm_df`` is None (self-scoring:
    boilerplate scores high/low-perplexity, lorem-ipsum noise scores low).

    Documents with fewer than 2 tokens have no bigrams and are excluded
    (score undefined, matching KenLM practice of skipping empty lines).

    Scale shape: bigram + unigram counts are vocabulary-sized partial
    aggregations; scoring co-shuffles doc bigrams with the count tables on
    (w1, w2) / (w1) — the LM side of each join is vocabulary-sized, never
    corpus-sized; V reduces to one broadcast scalar. Unseen bigrams and
    contexts take the smoothed floor, so scoring against a *reference* LM
    (``lm_df`` = another corpus) works unchanged.
    """
    from pyspark import StorageLevel

    bg_struct = F.expr(
        "transform(sequence(1, size(__t) - 1), "
        "i -> struct(__t[i - 1] AS w1, __t[i] AS w2))"
    )
    # Tokenize ONCE: doc bigrams, LM bigram counts and LM unigram counts
    # all read the persisted token projection instead of re-tokenizing
    # the corpus (three full text scans before — exactly the collapse
    # the scale note below always promised; r13 verdict item 8). The
    # one-row vocab fold is computed eagerly as the sequential first
    # consumer, filling the toks and unigram caches in a single pass
    # (the kept-frame discipline from minhash_lsh_pairs).
    toks_all = df.select(
        F.col(id_col).alias("__id"), tokenize(text_col).alias("__t")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    doc_bg = (
        toks_all.filter(F.size("__t") >= 2)
        .select("__id", F.explode(bg_struct).alias("bg"))
        .select("__id", "bg.w1", "bg.w2")
    )
    lm_toks = (
        toks_all
        if lm_df is None
        else lm_df.select(tokenize(text_col).alias("__t"))
    )
    lm_bg = (
        lm_toks.filter(F.size("__t") >= 2)
        .select(F.explode(bg_struct).alias("bg"))
        .groupBy("bg.w1", "bg.w2")
        .agg(F.count(F.lit(1)).alias("c_bigram"))
    )
    lm_uni = (
        lm_toks.select(F.explode("__t").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_unigram"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vocab = lm_uni.agg(F.count(F.lit(1)).alias("__v")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    vocab.count()

    p = (
        (F.coalesce(F.col("c_bigram"), F.lit(0)).cast("double") + F.lit(k))
        / (F.coalesce(F.col("c_unigram"), F.lit(0)).cast("double") + F.lit(k) * F.col("__v"))
    )
    scored = (
        doc_bg.join(lm_bg, ["w1", "w2"], "left")
        .join(lm_uni, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select("__id", F.log(p).alias("__logp"))
    )
    agg = scored.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.avg("__logp").alias("avg_logp"),
    )
    # Emit rounded scores (stable_round, not F.round — engines' ROUND
    # primitives disagree on shortest-repr half-ties): AVG over doubles
    # sums in partition order, so the raw mean carries ~1e-15-relative
    # engine noise (the round-4 zscore red class); 6 decimals on a ~-9
    # logp leaves 1e9x margin. Perplexity derives from the ROUNDED mean,
    # SATURATED at e^20 (~4.9e8) before its own rounding: exp() is libm,
    # its 2e-16-relative noise scales with magnitude, and fixed-decimal
    # rounding of an unbounded value eventually has less quantum than
    # noise (avg_logp <= -22 corpora) — the cap keeps >=400x margin, and
    # any perplexity past e^20 is saturated garbage-quality signal anyway.
    avg_r = stable_round(F.col("avg_logp"), 6)
    perp = F.exp(-F.greatest(avg_r, F.lit(-20.0)))
    return agg.select(
        F.col("__id").alias(id_col),
        "n_bigrams",
        avg_r.alias("avg_logp"),
        stable_round(perp, 4).alias("perplexity"),
    )


# --- BM25 ranked retrieval ---------------------------------------------------


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """Okapi BM25 ranked retrieval (Robertson & Zaragoza, FnTIR 2009) for
    a fixed lowercase query-term set — the keyword-retrieval half of a
    RAG pipeline, as one declarative plan.

    score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    with idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)).

    Scale shape: tokens are filtered to the query terms BEFORE any
    shuffle, so the (doc, term) tf aggregation moves only matching hits;
    N/avgdl reduce to one broadcast scalar row and df(t) to a
    |terms|-row broadcast, and the corpus is never joined against
    itself. The text column is scanned three times (token explode,
    per-doc length, corpus stats) — narrow single-column scans; a 100 TB
    deployment persists the tokenized projection (or precomputes dl as a
    stored column) to collapse them to one.

    Cross-engine determinism: idf/tf folds pass through libm ln(), so
    each per-term score is QUANTIZED to DECIMAL(18,6) before the per-doc
    sum — the sum is then exact (partition-order-proof) and the final
    ranking (score desc, id asc) compares identical decimals in any
    engine; the emitted double is the exact decimal cast.

    Returns (id, n_terms_matched, score, rank) for rank <= k; documents
    matching no query term are absent (standard retrieval semantics).
    """
    from pyspark.sql import Window

    if not terms:
        raise ValueError("terms must be non-empty")
    terms = [t.lower() for t in terms]

    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(tokenize(text_col)).alias("__tok"),
    ).select("__id", F.lower(F.col("__tok")).alias("__tok"))
    hits = toks.filter(F.col("__tok").isin(terms))
    tf = hits.groupBy("__id", "__tok").agg(F.count(F.lit(1)).alias("tf"))

    # dl feeds the per-doc score join AND the corpus-stats fold; persist
    # so the tokenize+count pass over the text runs ONCE (it ran twice —
    # r13 verdict item 4; release via session.cached_scope). The one-row
    # stats fold is computed eagerly as the sequential first consumer
    # that fills dl's cache (the kept-frame discipline from
    # minhash_lsh_pairs — a blanket count() would be an extra pass).
    from pyspark import StorageLevel

    dl = docs.select(
        F.col(id_col).alias("__id"), token_count(text_col).alias("dl")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    stats.count()
    dfreq = tf.groupBy("__tok").agg(F.count(F.lit(1)).cast("long").alias("df"))

    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    )
    term_score = (
        idf * F.col("tf").cast("double") * F.lit(k1 + 1.0)
        / (F.col("tf").cast("double") + norm)
    )
    scored = (
        tf.join(dl, "__id")
        .join(F.broadcast(dfreq), "__tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "__id",
            # term_score is an irrational double (log + divisions):
            # quantize via stable_round before the decimal accumulation
            # (raw double->decimal casts round under each engine's own
            # rule — the F.round divergence class).
            stable_round(term_score, 6).cast("decimal(18,6)").alias("__ts"),
        )
    )
    agg = scored.groupBy("__id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
        F.sum("__ts").alias("__score_dec"),
    )
    # Top-k as TakeOrdered (orderBy+limit — per-partition partial top-k,
    # never a global sort), then rank the K-row result with a trivial
    # window. The engine-wide top-k discipline (see ext_vocab_topk).
    topk = agg.orderBy(F.col("__score_dec").desc(), F.col("__id")).limit(k)
    w = Window.orderBy(F.col("__score_dec").desc(), F.col("__id"))
    return topk.select(
        F.col("__id").alias(id_col),
        "n_terms_matched",
        F.col("__score_dec").cast("double").alias("score"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


# --- hashed linear quality classifier ---------------------------------------

#: Number of hashed feature buckets for the linear scorer.
QC_BUCKETS = 64
#: Bias term of the deterministic demo weight vector.
QC_BIAS = -0.25


def qc_weights(n_buckets: int = QC_BUCKETS) -> list[float]:
    """Deterministic pseudo-random weights in [-0.5, 0.5) — the stand-in
    for a trained fastText-style linear model (same role the lowest-id
    'centroids' play for IVF: a fixed, oracle-replicable parameter
    vector; a real deployment inlines its trained weights identically).
    Each weight is an integer/1000 so the literal round-trips exactly
    through both engines' decimal parsers."""
    return [
        ((b * 2_654_435_761 + 1_013_904_223) % 1000) / 1000.0 - 0.5
        for b in range(n_buckets)
    ]


def hashed_linear_score(
    col: str,
    *,
    n_buckets: int = QC_BUCKETS,
    bias: float = QC_BIAS,
) -> Column:
    """fastText-style document quality score: hash each token into one of
    ``n_buckets`` features, score = sigmoid(bias + sum over tokens of
    w[bucket(token)]).

    The per-token sum IS the tf-weighted dot product (sum_b tf_b * w_b ==
    sum_tokens w[bucket(t)]), so scoring is a single left fold over the
    token array — map-only, linear in tokens, no 64-wide tf vector ever
    materialized. The fold order is the token order, so the float sum is
    deterministic and the DuckDB twin replays it bit-for-bit.
    """
    w = qc_weights(n_buckets)
    w_lit = F.expr("array(" + ",".join(f"{x!r}D" for x in w) + ")")
    toks = tokenize(col)
    raw = F.aggregate(
        toks,
        F.lit(float(bias)),
        lambda acc, t: acc
        + F.element_at(w_lit, (portable_base_hash(t) % n_buckets).cast("int") + 1),
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-raw))


def dsir_llr_weights(
    corpus: DataFrame,
    target: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS 2023): per-document log
    importance weight ``llr(d) = sum_b in d [log p_target(b) - log
    p_corpus(b)]`` over hashed-bigram features, add-``alpha`` smoothed
    across ``n_buckets`` buckets. Selecting the highest-llr documents
    reweights a raw corpus toward a target domain without training a
    classifier.

    Returns (id_col, n_bigrams, llr_dec) with llr_dec DECIMAL(18,6);
    docs with < 2 tokens have no features and are excluded. Cross-engine
    determinism: each bucket's log-ratio passes through libm ln once and
    is quantized to DECIMAL(18,6) (absorbing last-ulp ln noise — the
    bm25_topk discipline); the per-doc sum is then exact decimal
    arithmetic, so ordering and emitted values replay identically in the
    SQL oracle.

    Scale shape: both distributions reduce to ``n_buckets`` partial-agg
    rows + one scalar total each; the per-doc pass explodes bigrams
    map-side, hits the broadcast ratio table, and shuffles once on
    ``id_col`` for the sum — the corpus is scanned twice (distribution
    estimate, scoring), never joined against itself.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    bg_strings = F.expr(
        "transform(sequence(1, size(__t) - 1), "
        "i -> concat(__t[i - 1], ' ', __t[i]))"
    )
    bucket = (
        portable_hash60(F.concat(F.col("__bg"), F.lit("|dsir")))
        % n_buckets
    ).alias("b")

    def bucketed(df: DataFrame, *keep: str) -> DataFrame:
        return (
            df.select(*keep, tokenize(text_col).alias("__t"))
            .filter(F.size("__t") >= 2)
            .select(*keep, F.explode(bg_strings).alias("__bg"))
            .select(*keep, bucket)
        )

    spark = corpus.sparkSession
    # The <= n_buckets-row count tables each feed TWO consumers (the
    # ratio-table join and the scalar total), which start as concurrent
    # broadcast-build jobs — unmaterialized, each consumer re-ran the
    # full tokenize+bigram distribution pass (four heavy jobs in the r13
    # stage profile of ext_dsir_sample). Eagerly checkpoint the
    # sketch-sized frames so each distribution is estimated ONCE.
    t_counts = (
        bucketed(target)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("__ct"))
        .localCheckpoint(eager=True)
    )
    c_counts = (
        bucketed(corpus)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("__cc"))
        .localCheckpoint(eager=True)
    )
    # totals reduce from the (<= n_buckets)-row count tables, NOT from
    # another pass over the raw corpus: each side is scanned once for its
    # distribution; the corpus's second scan below is the scoring pass —
    # the irreducible two-pass shape of importance weighting.
    t_tot = t_counts.agg(F.sum("__ct").alias("__nt"))
    c_tot = c_counts.agg(F.sum("__cc").alias("__nc"))
    denom_extra = float(alpha) * n_buckets
    ratio = (
        F.log(
            (F.coalesce("__ct", F.lit(0)) + F.lit(float(alpha)))
            / (F.col("__nt") + F.lit(denom_extra))
        )
        - F.log(
            (F.coalesce("__cc", F.lit(0)) + F.lit(float(alpha)))
            / (F.col("__nc") + F.lit(denom_extra))
        )
    )
    ratio = stable_round(ratio, 6).cast("decimal(18,6)")
    ltable = (
        spark.range(n_buckets)
        .select(F.col("id").alias("b"))
        .join(t_counts, "b", "left")
        .join(c_counts, "b", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(c_tot))
        .select("b", ratio.alias("__l"))
    )
    return (
        bucketed(corpus, id_col)
        .join(F.broadcast(ltable), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("__l").cast("decimal(18,6)").alias("llr_dec"),
        )
    )
